"""Clustering behavior tests — the core scenarios of the reference's
ClusterSkiAreas.integration.test.ts, run as ONE clustering invocation over
scenarios placed at disjoint longitudes (how the operator actually runs)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from openskidata_processor_spark.pipeline import formatters as fmt
from openskidata_processor_spark.pipeline.clustering import cluster_ski_areas
from openskidata_processor_spark.pipeline.statistics import STATISTICS_DDL
from test_formatters import raw


def line(lon, lat0, lat1, lon2=None):
    return json.dumps({"type": "LineString", "coordinates": [
        [lon, lat0], [lon if lon2 is None else lon2, lat1]]})


def polygon(lon0, lat0, lon1, lat1):
    return json.dumps({"type": "Polygon", "coordinates": [[
        [lon0, lat0], [lon1, lat0], [lon1, lat1], [lon0, lat1], [lon0, lat0]]]})


def point(lon, lat):
    return json.dumps({"type": "Point", "coordinates": [lon, lat]})


# 0.001° lat ≈ 111 m.  Scenario bands at distinct integer longitudes.
RUN_ROWS = [
    # G1 (lon 10): downhill run + t-bar 100 m away → generated downhill area
    ({"piste:type": "downhill", "name": "G1 run"}, line(10.0, 47.0, 47.002)),
    # G2 (lon 12): lone downhill run, no lift → nothing generated
    ({"piste:type": "downhill", "name": "G2 run"}, line(12.0, 47.0, 47.002)),
    # G3 (lon 14): lone nordic run → generated nordic area (no lift needed)
    ({"piste:type": "nordic", "name": "G3 run"}, line(14.0, 47.0, 47.002)),
    # P1 (lon 16): run inside an OSM landuse polygon
    ({"piste:type": "downhill", "piste:difficulty": "easy",
      "name": "P1 run"}, line(16.005, 47.005, 47.007)),
    # M1 (lon 20): run inside an OSM polygon; skimap point nearby
    ({"piste:type": "downhill", "name": "M1 run"}, line(20.005, 47.005, 47.007)),
    # T1 (lon 22): run inside polygon + run 200 m outside → transitive claim
    ({"piste:type": "downhill", "name": "T1 in"}, line(22.009, 47.005, 47.009)),
    ({"piste:type": "downhill", "name": "T1 out"}, line(22.009, 47.011, 47.013)),
    # R1 (lon 26, way id 8): run in BOTH a site relation and an OSM polygon
    # → the polygon is removed (site-majority rule, :654-700)
    ({"piste:type": "downhill", "name": "R1 run"}, line(26.005, 47.005, 47.007)),
    # A1 (lon 28): downhill run+lift with a nordic run 200 m away →
    # per-activity clustering keeps them in separate generated areas
    ({"piste:type": "downhill", "name": "A1 dh"}, line(28.0, 47.0, 47.002)),
    ({"piste:type": "nordic", "name": "A1 nordic"}, line(28.0, 47.004, 47.006)),
    # SK1 (lon 30): unassigned run+lift near a Skimap.org point area →
    # claimed by pass-5 transitive expansion (no generated area)
    ({"piste:type": "downhill", "name": "SK1 run"}, line(30.0, 47.002, 47.004)),
    # U1 (lon 36): unsupported-activity run (hike) + lift → NO generated
    # area (ClusterSkiAreas.integration.test.ts:50)
    ({"piste:type": "hike", "name": "U1 run"}, line(36.0, 47.0, 47.002)),
    # SP1 (lon 38): lone snow park → nothing generated (:844)
    ({"piste:type": "snow_park", "name": "SP1 park"}, line(38.0, 47.0, 47.002)),
    # SP2 (lon 40): downhill seed + snow park 150 m away → the generated
    # downhill area includes the snow park (:882)
    ({"piste:type": "downhill", "name": "SP2 run"}, line(40.0, 47.0, 47.002)),
    ({"piste:type": "snow_park", "name": "SP2 park"},
     line(40.0, 47.0035, 47.0055)),
    # BG1 (lon 42): downhill seed + patrolled ungroomed run (included, :961)
    # + unpatrolled backcountry run (NOT included/claimable, :1021)
    ({"piste:type": "downhill", "name": "BG1 run"}, line(42.0, 47.0, 47.002)),
    ({"piste:type": "downhill", "piste:grooming": "backcountry",
      "patrolled": "yes", "name": "BG1 patrolled"},
     line(42.0, 47.0035, 47.0055)),
    ({"piste:type": "downhill", "piste:grooming": "backcountry",
      "patrolled": "no", "name": "BG1 wild"},
     line(42.0015, 47.0, 47.002)),
    # W1 (lon 46): run inside an OSM polygon that HAS a website; skimap
    # area with its own website merges in → OSM website wins (:1623)
    ({"piste:type": "downhill", "name": "W1 run"}, line(46.005, 47.005, 47.007)),
    # W2 (lon 48): same shape but the OSM polygon has NO website → the
    # merged area unions in the Skimap.org website
    ({"piste:type": "downhill", "name": "W2 run"}, line(48.005, 47.005, 47.007)),
    # MX1 (lon 52, idx 20 → way 21): mixed-use run — only the supported
    # activity seeds the generated area (:543)
    ({"piste:type": "downhill;skitour", "name": "MX1 run"},
     line(52.0, 47.0, 47.002)),
    # OV1 (lon 54, ways 22/23): polygon whose in-site member is a MINORITY
    # of member length → polygon KEPT (:2557; contrast R1's removal)
    ({"piste:type": "downhill", "name": "OV1 insite"},
     line(54.005, 47.005, 47.007)),
    ({"piste:type": "downhill", "name": "OV1 free"},
     line(54.006, 47.001, 47.007)),
    # MS1 (lon 56, idx 23 → way 24): run inside an OSM polygon with TWO
    # Skimap.org point areas nearby → both merge into the OSM area (:1728)
    ({"piste:type": "downhill", "name": "MS1 run"}, line(56.005, 47.005, 47.007)),
    # SB1 (lon 58, ways 25/26/27): site-based area — geometry comes from
    # the member (:2230), a nearby unassociated downhill run is added
    # (:2301), a nordic run of different activity is NOT (:2369)
    ({"piste:type": "downhill", "name": "SB1 member"},
     line(58.0, 47.0, 47.002)),
    ({"piste:type": "downhill", "name": "SB1 near"},
     line(58.0, 47.0035, 47.0055)),
    ({"piste:type": "nordic", "name": "SB1 nordic"},
     line(58.0015, 47.0, 47.002)),
    # ML1 (lon 60): seed run next to a MultiLineString lift (:781) whose
    # second part has a station 10 m away (:3316)
    ({"piste:type": "downhill", "name": "ML1 run"}, line(60.0, 47.0, 47.002)),
    # NP1 (lon 62): run contained in BOTH a sub- and a super-polygon; a
    # Skimap.org point nearby merges into BOTH areas (:1814); the run
    # determines both polygons' activities (:2077, :1982)
    ({"piste:type": "downhill", "name": "NP1 run"},
     line(62.008, 47.008, 47.01)),
    # BS1 (lon 64, way idx 29 → way 30): backcountry unpatrolled run that
    # IS a site member — site membership bypasses the wilderness rule, so
    # the run keeps its activities and counts in statistics (:706)
    ({"piste:type": "downhill", "piste:grooming": "backcountry",
      "patrolled": "no", "name": "BS1 member"}, line(64.0, 47.0, 47.002)),
    # NA1 (lon 68): run inside an OSM polygon; a Skimap.org area WITHOUT
    # activities nearby still merges (empty set = wildcard, :1559)
    ({"piste:type": "downhill", "name": "NA1 run"},
     line(68.005, 47.005, 47.007)),
    # AD1 (lon 70, ways 32/33): tiny OSM polygon containing one run; an
    # ADJACENT (not contained) lift plus a run chained off the lift's far
    # end all associate to the polygon area when no other polygon
    # contains them (:1153)
    ({"piste:type": "downhill", "name": "AD1 in"},
     line(70.0005, 47.0042, 47.0048)),
    ({"piste:type": "downhill", "name": "AD1 far"},
     line(70.0015, 47.0018, 47.0)),
    # SC1 (lon 74, way 34): site member run that is backcountry with NO
    # patrolled tag — site membership bypasses the wilderness rule and
    # the site area keeps activities [downhill] (:2684)
    ({"piste:type": "downhill", "piste:grooming": "backcountry",
      "name": "SC1 member"}, line(74.0, 47.0, 47.002)),
    # SC2 (lon 76, way 35): site member run with a non-skiing use (sled)
    # — the site=piste area is KEPT with empty activities (:2727)
    ({"piste:type": "sled", "name": "SC2 member"}, line(76.0, 47.0, 47.002)),
    # SC3 (lon 78, ways 36/37/38): site with two member runs; a nearby
    # unassigned polygon run is added to the site area (:2769)
    ({"piste:type": "downhill", "name": "SC3 member A"},
     line(78.0, 47.0, 47.002)),
    ({"piste:type": "downhill", "name": "SC3 member B"},
     line(78.0005, 47.0002, 47.0022)),
    ({"piste:type": "downhill", "name": "SC3 poly"},
     polygon(78.002, 47.0, 78.004, 47.002)),
    # SA1 (lon 80, way 39): generated area whose spots (station at the
    # lift base, crossing on the run) associate to it — spots join areas
    # but never found them (:2877)
    ({"piste:type": "downhill", "name": "SA1 run"}, line(80.0, 47.0, 47.002)),
    # SF1 (lon 82, ways 40/41/42): site whose two members lie 2.3 km
    # apart; a lone run 300 m from the far member joins the site area,
    # so both members must share one region with the site
    ({"piste:type": "downhill", "name": "SF1 member A"},
     line(82.0, 47.0, 47.002)),
    ({"piste:type": "downhill", "name": "SF1 member B"},
     line(82.03, 47.0, 47.002)),
    ({"piste:type": "downhill", "name": "SF1 near"},
     line(82.034, 47.0, 47.002)),
]

LIFT_ROWS = [
    ({"aerialway": "t-bar", "name": "G1 lift"}, line(10.001, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "P1 lift"}, line(16.006, 47.005, 47.007)),
    # S1 (lon 24): two lifts; station is 10 m from the first
    ({"aerialway": "chair_lift", "name": "S1 near"}, line(24.0, 47.0, 47.002)),
    ({"aerialway": "chair_lift", "name": "S1 far"}, line(24.003, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "A1 lift"}, line(28.001, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "SK1 lift"}, line(30.001, 47.002, 47.004)),
    ({"aerialway": "t-bar", "name": "U1 lift"}, line(36.001, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "SP2 lift"}, line(40.001, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "BG1 lift"}, line(42.0005, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "MX1 lift"}, line(52.001, 47.0, 47.002)),
    ({"aerialway": "t-bar", "name": "ML1 lift"}, json.dumps(
        {"type": "MultiLineString", "coordinates": [
            [[60.001, 47.0], [60.001, 47.001]],
            [[60.001, 47.0012], [60.001, 47.002]]]})),
    # S2 (lon 32): 3D lift 1000→2000 m for position inference
    ({"aerialway": "chair_lift", "name": "S2 lift"}, json.dumps(
        {"type": "LineString", "coordinates": [
            [32.0, 47.0, 1000.0], [32.0, 47.002, 2000.0]]})),
    # AD1: lift adjacent to (not contained in) the tiny AD1 polygon
    ({"aerialway": "t-bar", "name": "AD1 lift"},
     line(70.0015, 47.004, 47.002)),
    # AD2: one lift per abutting polygon, both hugging the shared edge
    ({"aerialway": "t-bar", "name": "AD2 south lift"},
     line(72.005, 47.0095, 47.007)),
    ({"aerialway": "t-bar", "name": "AD2 north lift"},
     line(72.005, 47.0105, 47.013)),
    # SA1: lift 40 m from the SA1 run (seeds the generated area)
    ({"aerialway": "t-bar", "name": "SA1 lift"}, line(80.0005, 47.0, 47.002)),
]

SPOT_ROWS = [
    ({"aerialway": "station", "name": "S1 station"},
     point(24.0001, 47.001)),
    # S2: station near the top of the 3D lift (z set post-format below,
    # standing in for the elevation-enrichment stage)
    ({"aerialway": "station", "name": "S2 station"},
     point(32.0001, 47.0019)),
    # no lift within 30 m → must be removed as orphaned
    ({"aerialway": "station", "name": "Orphan station"},
     point(34.0, 47.0)),
    # SPOT1 (lon 50): lone crossing spot, nothing near it → spots alone
    # never create ski areas (:2973) but the spot itself survives
    ({"piste:dismount": "yes"}, point(50.0, 47.0)),
    # ML1: station 10 m from the SECOND part of the MultiLineString lift
    ({"aerialway": "station", "name": "ML1 station"},
     point(60.0011, 47.0018)),
    # SA1: station at the lift base + crossing on the run — both get the
    # generated area's id (:2877)
    ({"aerialway": "station", "name": "SA1 station"},
     point(80.0005, 47.0001)),
    ({"piste:dismount": "yes"}, point(80.0, 47.001)),
]

SKI_AREA_ROWS = [
    ({"landuse": "winter_sports", "name": "P1 resort"},
     polygon(16.0, 47.0, 16.01, 47.01)),
    ({"landuse": "winter_sports", "name": "Empty resort"},
     polygon(18.0, 47.0, 18.01, 47.01)),
    ({"landuse": "winter_sports", "name": "M1 resort"},
     polygon(20.0, 47.0, 20.01, 47.01)),
    ({"landuse": "winter_sports", "name": "T1 resort"},
     polygon(22.0, 47.0, 22.01, 47.01)),
    ({"landuse": "winter_sports", "name": "R1 overlap resort"},
     polygon(26.0, 47.0, 26.01, 47.01)),
    ({"landuse": "winter_sports", "name": "W1 resort",
      "website": "https://osm.example/w1"},
     polygon(46.0, 47.0, 46.01, 47.01)),
    ({"landuse": "winter_sports", "name": "W2 resort"},
     polygon(48.0, 47.0, 48.01, 47.01)),
    ({"landuse": "winter_sports", "name": "OV1 resort"},
     polygon(54.0, 47.0, 54.01, 47.01)),
    ({"landuse": "winter_sports", "name": "MS1 resort"},
     polygon(56.0, 47.0, 56.01, 47.01)),
    ({"landuse": "winter_sports", "name": "NP1 super"},
     polygon(62.0, 47.0, 62.02, 47.02)),
    ({"landuse": "winter_sports", "name": "NP1 sub"},
     polygon(62.005, 47.005, 62.015, 47.015)),
    # ES1 (lon 66): empty OSM polygon around a Skimap.org point — the
    # polygon has no objects so it is removed; the Skimap.org area must
    # NOT be merged away (:1662)
    ({"landuse": "winter_sports", "name": "ES1 empty super"},
     polygon(66.0, 47.0, 66.01, 47.01)),
    ({"landuse": "winter_sports", "name": "NA1 resort"},
     polygon(68.0, 47.0, 68.01, 47.01)),
    # AD1: tiny polygon — objects adjacent to it still associate (:1153)
    ({"landuse": "winter_sports", "name": "AD1 resort"},
     polygon(70.0, 47.004, 70.001, 47.005)),
    # AD2: two abutting polygons sharing the lat-47.01 edge (:1263)
    ({"landuse": "winter_sports", "name": "AD2 south"},
     polygon(72.0, 47.0, 72.01, 47.01)),
    ({"landuse": "winter_sports", "name": "AD2 north"},
     polygon(72.0, 47.01, 72.01, 47.02)),
]


@pytest.fixture(scope="module")
def cluster_inputs(spark):
    # site=piste relation whose member is the R1 run (way id 8)
    sites = spark.createDataFrame(
        [(900, {"site": "piste", "name": "R1 site"},
          [{"type": "way", "ref": 8, "role": ""}]),
         (901, {"site": "piste", "name": "OV1 site"},
          [{"type": "way", "ref": 22, "role": ""}]),
         (902, {"site": "piste", "name": "Dangling site"},
          [{"type": "way", "ref": 9999, "role": ""}]),
         (903, {"site": "piste", "name": "SB1 site"},
          [{"type": "way", "ref": 25, "role": ""}]),
         (904, {"site": "piste", "name": "BS1 site"},
          [{"type": "way", "ref": 30, "role": ""}]),
         (905, {"site": "piste", "name": "SC1 site"},
          [{"type": "way", "ref": 34, "role": ""}]),
         (906, {"site": "piste", "name": "SC2 site"},
          [{"type": "way", "ref": 35, "role": ""}]),
         (907, {"site": "piste", "name": "SC3 site"},
          [{"type": "way", "ref": 36, "role": ""},
           {"type": "way", "ref": 37, "role": ""}]),
         (908, {"site": "piste", "name": "SF1 site"},
          [{"type": "way", "ref": 40, "role": ""},
           {"type": "way", "ref": 41, "role": ""}])],
        "site_id long, tags map<string,string>, "
        "members array<struct<type:string, ref:long, role:string>>")
    site_areas = fmt.format_ski_areas_sites(sites)
    runs = fmt.attach_site_ski_areas(
        fmt.format_runs(raw(spark, RUN_ROWS)), sites, site_areas)
    lifts = fmt.attach_site_ski_areas(
        fmt.format_lifts(raw(spark, LIFT_ROWS)), sites, site_areas)
    spots = fmt.attach_site_ski_areas(
        fmt.format_spots(raw(spark, SPOT_ROWS)), sites, site_areas)
    # stand-in for add_elevation: give the S2 station a z coordinate
    spots = spots.withColumn("geometry", F.when(
        F.col("name") == "S2 station",
        F.lit(json.dumps({"type": "Point",
                          "coordinates": [32.0001, 47.0019, 1950.0]})))
        .otherwise(F.col("geometry")))
    skimap = spark.createDataFrame(
        [("sm1", "M1 skimap", "operating", ["downhill"], 1, None,
          point(20.005, 47.006)),
         ("sm2", "SK1 skimap", "operating", ["downhill"], 1, None,
          point(30.0005, 47.003)),
         ("sm3", "W1 skimap", "operating", ["downhill"], 1,
          "https://skimap.example/w1", point(46.005, 47.006)),
         ("sm4", "W2 skimap", "operating", ["downhill"], 1,
          "https://skimap.example/w2", point(48.005, 47.006)),
         ("sm5", "MS1 skimap A", "operating", ["downhill"], 1, None,
          point(56.005, 47.006)),
         ("sm6", "MS1 skimap B", "operating", ["downhill"], 1, None,
          point(56.0055, 47.0055)),
         ("sm7", "NP1 skimap", "operating", ["downhill"], 1, None,
          point(62.008, 47.009)),
         ("sm8", "ES1 skimap", "operating", ["downhill"], 1, None,
          point(66.005, 47.005)),
         ("sm9", "NA1 skimap", "operating", [], 1, None,
          point(68.005, 47.006))],
        "id string, name string, status string, activities array<string>,"
        " scalerank int, official_website string, geometry string")
    osm_areas = fmt.format_ski_areas_osm(raw(spark, SKI_AREA_ROWS))
    ski_areas = (osm_areas.unionByName(fmt.format_ski_areas_skimap(skimap))
                 .unionByName(site_areas))
    return ski_areas, runs, lifts, spots


@pytest.fixture(scope="module")
def clustered_frames(cluster_inputs):
    return cluster_ski_areas(*cluster_inputs)


@pytest.fixture(scope="module")
def clustered(clustered_frames):
    return {k: v.collect() for k, v in clustered_frames.items()}


def sa_by_name(rows, name):
    return [r for r in rows if r.name == name]


def layer_by_name(rows, name):
    return next(r for r in rows if r.name == name)


class TestGeneration:
    def test_run_with_lift_generates_downhill_area(self, clustered):
        runs = clustered["runs"]
        r = layer_by_name(runs, "G1 run")
        assert len(r.ski_areas) == 1
        gen = [s for s in clustered["ski_areas"]
               if s.id == r.ski_areas[0]][0]
        assert gen.activities == ["downhill"]
        assert gen.status == "operating"
        assert gen.name is None
        lift = layer_by_name(clustered["lifts"], "G1 lift")
        assert lift.ski_areas == r.ski_areas

    def test_lone_downhill_run_generates_nothing(self, clustered):
        r = layer_by_name(clustered["runs"], "G2 run")
        assert r.ski_areas == []

    def test_lone_nordic_run_generates_nordic_area(self, clustered):
        r = layer_by_name(clustered["runs"], "G3 run")
        assert len(r.ski_areas) == 1
        gen = [s for s in clustered["ski_areas"] if s.id == r.ski_areas[0]][0]
        assert gen.activities == ["nordic"]

    def test_generated_ids_deterministic(self, clustered):
        gen_ids = [s.id for s in clustered["ski_areas"]
                   if s.id.startswith("gen_")]
        assert len(gen_ids) == len(set(gen_ids)) >= 2


class TestPolygonAssignment:
    def test_contained_objects_assigned(self, clustered):
        sa = sa_by_name(clustered["ski_areas"], "P1 resort")[0]
        run = layer_by_name(clustered["runs"], "P1 run")
        lift = layer_by_name(clustered["lifts"], "P1 lift")
        assert sa.id in run.ski_areas
        assert sa.id in lift.ski_areas
        assert sa.activities == ["downhill"]

    def test_empty_polygon_removed(self, clustered):
        assert sa_by_name(clustered["ski_areas"], "Empty resort") == []

    def test_statistics_computed(self, clustered):
        sa = sa_by_name(clustered["ski_areas"], "P1 resort")[0]
        stats = sa.statistics
        by_act = stats["runs"]["by_activity"]
        assert "downhill" in by_act
        easy = by_act["downhill"]["easy"]
        assert easy["count"] == 1
        assert easy["length_in_km"] > 0.1
        assert stats["lifts"]["by_type"]["t-bar"]["count"] == 1

    def test_statistics_type(self, clustered_frames):
        """The walk emits ``statistics`` typed by the one DDL of A2."""
        schema = clustered_frames["ski_areas"].schema
        assert schema["statistics"].dataType == DataType.fromDDL(
            STATISTICS_DDL)


class TestTransitiveExpansion:
    def test_nearby_run_claimed_transitively(self, clustered):
        sa = sa_by_name(clustered["ski_areas"], "T1 resort")[0]
        inside = layer_by_name(clustered["runs"], "T1 in")
        outside = layer_by_name(clustered["runs"], "T1 out")
        assert sa.id in inside.ski_areas
        assert sa.id in outside.ski_areas


class TestSkimapMerge:
    def test_skimap_merged_into_osm_area(self, clustered):
        assert sa_by_name(clustered["ski_areas"], "M1 skimap") == []
        sa = sa_by_name(clustered["ski_areas"], "M1 resort")[0]
        assert {s["type"] for s in sa.sources} == {"openstreetmap",
                                                   "skimap.org"}


class TestStationAssociation:
    def test_station_associates_to_nearest_lift(self, clustered):
        near = layer_by_name(clustered["lifts"], "S1 near")
        station = layer_by_name(clustered["spots"], "S1 station")
        assert station.lift_id == near.id
        assert [s.id for s in near.stations] == [station.id]

    def test_station_snapped_to_lift_with_lift_id(self, clustered):
        near = layer_by_name(clustered["lifts"], "S1 near")
        spot = layer_by_name(clustered["spots"], "S1 station")
        assert spot.lift_id == near.id
        lon, lat = json.loads(spot.geometry)["coordinates"][:2]
        assert abs(lon - 24.0) < 1e-9 and abs(lat - 47.001) < 1e-6

    def test_position_inferred_from_elevation(self, clustered):
        # z=1950 vs lift range 1000-2000 → above the top-25% threshold
        spot = layer_by_name(clustered["spots"], "S2 station")
        assert spot.position == "top"

    def test_lift_stations_array_populated(self, clustered):
        near = layer_by_name(clustered["lifts"], "S1 near")
        far = layer_by_name(clustered["lifts"], "S1 far")
        s1 = layer_by_name(clustered["spots"], "S1 station")
        assert [s.id for s in near.stations] == [s1.id]
        assert far.stations == []
        s2lift = layer_by_name(clustered["lifts"], "S2 lift")
        assert [s.position for s in s2lift.stations] == ["top"]

    def test_orphaned_station_removed(self, clustered):
        assert all(r.name != "Orphan station" for r in clustered["spots"])


class TestSiteMajorityRemoval:
    def test_polygon_with_site_majority_removed(self, clustered):
        # R1 run is a site member; its length is 100% of the polygon's
        # member length → the polygon ski area is removed (:654-700)
        assert sa_by_name(clustered["ski_areas"], "R1 overlap resort") == []
        run = layer_by_name(clustered["runs"], "R1 run")
        site = sa_by_name(clustered["ski_areas"], "R1 site")[0]
        assert site.id in run.ski_areas


class TestActivitySeparation:
    def test_nordic_and_downhill_cluster_separately(self, clustered):
        dh = layer_by_name(clustered["runs"], "A1 dh")
        nordic = layer_by_name(clustered["runs"], "A1 nordic")
        assert len(dh.ski_areas) == 1 and len(nordic.ski_areas) == 1
        assert dh.ski_areas[0] != nordic.ski_areas[0]
        by_id = {s.id: s for s in clustered["ski_areas"]}
        assert by_id[dh.ski_areas[0]].activities == ["downhill"]
        assert by_id[nordic.ski_areas[0]].activities == ["nordic"]


class TestSkimapTransitive:
    def test_unassigned_objects_claimed_by_skimap_area(self, clustered):
        run = layer_by_name(clustered["runs"], "SK1 run")
        lift = layer_by_name(clustered["lifts"], "SK1 lift")
        sk = sa_by_name(clustered["ski_areas"], "SK1 skimap")[0]
        assert run.ski_areas == [sk.id]
        assert lift.ski_areas == [sk.id]
        assert sk.activities == ["downhill"]


class TestHighLatitudeGrid:
    """Regression: the grid candidate join must size its longitude pad by
    cos(lat) — a fixed equatorial pad drops true pairs above ~61°N."""

    def test_proximity_pairs_at_high_latitude(self, spark):
        import math

        from openskidata_processor_spark.pipeline.clustering import \
            proximity_pairs
        from openskidata_processor_spark.functions import geometry as geo

        rows = []
        for i, lat in enumerate([61.0, 67.0, 70.0, 78.0]):
            # Two points `radius*0.9` km apart in pure longitude at `lat`;
            # the bands lie degrees apart, so no pair crosses them.
            dlon = 0.45 / (geo.KM_PER_DEG_LAT * math.cos(math.radians(lat)))
            rows += [(f"a{i}", point(10.0, lat), "object"),
                     (f"b{i}", point(10.0 + dlon, lat), "object")]
        nodes = spark.createDataFrame(rows,
                                      "id string, geometry string, kind string")
        got = {(r.a, r.b) for r in proximity_pairs(nodes).collect()}
        assert got == {(f"a{i}", f"b{i}") for i in range(4)}


def test_covered_by_edge_crossing():
    """ST_CoveredBy parity: a segment between two interior vertices that
    exits a concave polygon (or crosses a hole) is NOT covered; boundary
    contact without a proper crossing still is."""
    from openskidata_processor_spark.functions.geometry import covered_by
    u = {"type": "Polygon", "coordinates": [[
        [0, 0], [10, 0], [10, 10], [7, 10], [7, 3],
        [3, 3], [3, 10], [0, 10], [0, 0]]]}
    base_line = {"type": "LineString", "coordinates": [[1, 1], [9, 1]]}
    notch_line = {"type": "LineString", "coordinates": [[1.5, 8], [8.5, 8]]}
    assert covered_by(base_line, u)
    assert not covered_by(notch_line, u)  # vertices inside, edge dips out
    holed = {"type": "Polygon", "coordinates": [
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]]}
    assert not covered_by(
        {"type": "LineString", "coordinates": [[2, 5], [8, 5]]}, holed)
    assert covered_by(
        {"type": "LineString", "coordinates": [[2, 2], [8, 2]]}, holed)
    # boundary contact is allowed (CoveredBy, not Within)
    assert covered_by(
        {"type": "LineString", "coordinates": [[0, 0], [5, 0]]}, u)


class TestSeedingRules:
    """Which objects may found a NEW ski area — the reference's
    isBasisForNewSkiArea semantics (SkiAreaClusteringService.ts:282-286,
    scenario spec ClusterSkiAreas.integration.test.ts:50,844,1021,2973)."""

    def test_unsupported_activity_never_seeds(self, clustered):
        # hike run + lift at lon 36: no generated area anywhere there
        assert not [r for r in clustered["ski_areas"]
                    if "U1" in (r.name or "")]

    def test_lone_snow_park_never_seeds(self, clustered):
        assert not [r for r in clustered["ski_areas"]
                    if "SP1" in (r.name or "")]

    def test_snow_park_joins_nearby_downhill_area(self, clustered):
        park = layer_by_name(clustered["runs"], "SP2 park")
        seed = layer_by_name(clustered["runs"], "SP2 run")
        assert len(seed.ski_areas) == 1
        assert list(park.ski_areas) == list(seed.ski_areas)

    def test_lone_spot_never_seeds(self, clustered):
        crossings = [r for r in clustered["spots"]
                     if r.spot_type == "crossing"
                     and json.loads(r.geometry)["coordinates"][0] == 50.0]
        # the spot survives clustering but founded no ski area
        assert len(crossings) == 1
        assert list(crossings[0].ski_areas) == []


class TestBackcountryRules:
    """Unpatrolled backcountry runs have no claimable activity; patrolled
    ones behave like normal downhill (:961 vs :1021)."""

    def test_patrolled_ungroomed_included(self, clustered):
        patrolled = layer_by_name(clustered["runs"], "BG1 patrolled")
        seed = layer_by_name(clustered["runs"], "BG1 run")
        assert len(seed.ski_areas) == 1
        assert list(patrolled.ski_areas) == list(seed.ski_areas)

    def test_unpatrolled_backcountry_excluded(self, clustered):
        wild = layer_by_name(clustered["runs"], "BG1 wild")
        assert list(wild.ski_areas) == []


class TestMergeWebsitePreference:
    """MergeSkiAreaObjects.ts:84-100 — OSM-sourced websites win over
    Skimap.org near-duplicates; union only when OSM has none."""

    def test_osm_website_wins(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "W1 resort")
        assert list(sa.websites) == ["https://osm.example/w1"]

    def test_skimap_website_fills_gap(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "W2 resort")
        assert list(sa.websites) == ["https://skimap.example/w2"]


class TestMoreReferenceScenarios:
    """Further ClusterSkiAreas.integration.test.ts scenarios: :543 (mixed
    use seeds supported activity only), :2557 (insufficient site overlap
    keeps the landuse polygon), :1728 (multiple Skimap.org areas merge
    into one OSM area)."""

    def test_mixed_use_seeds_downhill_only(self, clustered):
        run = layer_by_name(clustered["runs"], "MX1 run")
        assert len(run.ski_areas) == 1
        sa = next(r for r in clustered["ski_areas"]
                  if r.id == run.ski_areas[0])
        assert list(sa.activities) == ["downhill"]

    def test_insufficient_site_overlap_keeps_polygon(self, clustered):
        # contrast: R1's majority-overlap polygon is removed (tested
        # above); OV1's in-site member is a minority of member length
        assert sa_by_name(clustered["ski_areas"], "OV1 resort")

    def test_multiple_skimap_areas_merge_into_one_osm(self, clustered):
        # both Skimap.org areas vanish as standalone areas…
        names = {r.name for r in clustered["ski_areas"]}
        assert "MS1 skimap A" not in names and "MS1 skimap B" not in names
        # …and the OSM area carries both their sources
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "MS1 resort")
        skimap_srcs = [s for s in sa.sources if s.type == "skimap.org"]
        assert len(skimap_srcs) == 2


class TestSiteBasedAreas:
    """Site=piste relation ski areas (spec :2230-2437): geometry from
    members, transitive expansion by activity, removal when empty."""

    def test_site_geometry_from_member_not_placeholder(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "SB1 site")
        g = json.loads(sa.geometry)
        coords = g["coordinates"]
        flat0 = coords[0] if isinstance(coords[0], (int, float)) else \
            coords[0][0] if isinstance(coords[0][0], (int, float)) else \
            coords[0][0][0]
        assert flat0 != 360  # placeholder [360, 360, …] replaced

    def test_site_claims_nearby_same_activity_run(self, clustered):
        member = layer_by_name(clustered["runs"], "SB1 member")
        near = layer_by_name(clustered["runs"], "SB1 near")
        assert member.ski_areas and near.ski_areas
        assert set(near.ski_areas) & set(member.ski_areas)

    def test_site_ignores_different_activity_run(self, clustered):
        member = layer_by_name(clustered["runs"], "SB1 member")
        nordic = layer_by_name(clustered["runs"], "SB1 nordic")
        assert not (set(nordic.ski_areas) & set(member.ski_areas))

    def test_empty_site_area_removed(self, clustered):
        assert not [r for r in clustered["ski_areas"]
                    if (r.name or "") == "Dangling site"]


class TestMultiLineStringLifts:
    """MultiLineString lifts flow through clustering and station
    association intact (spec :781, :3316)."""

    def test_multilinestring_lift_clustered(self, clustered):
        lift = layer_by_name(clustered["lifts"], "ML1 lift")
        run = layer_by_name(clustered["runs"], "ML1 run")
        assert len(run.ski_areas) == 1
        assert list(lift.ski_areas) == list(run.ski_areas)

    def test_station_associates_to_multilinestring_lift(self, clustered):
        lift = layer_by_name(clustered["lifts"], "ML1 lift")
        station = layer_by_name(clustered["spots"], "ML1 station")
        assert station.lift_id == lift.id
        assert [s.id for s in lift.stations] == [station.id]


class TestNestedPolygons:
    """Sub/super polygon containment (:1814, :2077, :1982): a run inside
    both polygons joins both; the Skimap.org area merges into both; both
    areas inherit the run's activities."""

    def test_run_joins_both_nested_polygons(self, clustered):
        run = layer_by_name(clustered["runs"], "NP1 run")
        sup = next(r for r in clustered["ski_areas"]
                   if (r.name or "") == "NP1 super")
        sub = next(r for r in clustered["ski_areas"]
                   if (r.name or "") == "NP1 sub")
        assert set(run.ski_areas) == {sup.id, sub.id}

    def test_skimap_merges_into_both_nested_polygons(self, clustered):
        names = {r.name for r in clustered["ski_areas"]}
        assert "NP1 skimap" not in names
        for nm in ("NP1 super", "NP1 sub"):
            sa = next(r for r in clustered["ski_areas"]
                      if (r.name or "") == nm)
            assert any(s.type == "skimap.org" for s in sa.sources), nm

    def test_contained_run_determines_activities(self, clustered):
        for nm in ("NP1 super", "NP1 sub"):
            sa = next(r for r in clustered["ski_areas"]
                      if (r.name or "") == nm)
            assert list(sa.activities) == ["downhill"], nm


class TestSiteBackcountryAndEmptySuper:
    """Site membership bypasses the wilderness rule (:706); an empty OSM
    super-polygon never absorbs a Skimap.org area (:1662)."""

    def test_backcountry_site_member_keeps_activities(self, clustered):
        run = layer_by_name(clustered["runs"], "BS1 member")
        assert run.ski_areas  # stays in its site area
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "BS1 site")
        assert list(sa.activities) == ["downhill"]
        assert sa.statistics is not None
        assert sa.statistics["runs"]["by_activity"]["downhill"]            ["other"]["count"] == 1

    def test_empty_super_polygon_keeps_skimap_separate(self, clustered):
        names = {r.name for r in clustered["ski_areas"]}
        assert "ES1 empty super" not in names  # removed (no members)
        assert "ES1 skimap" in names           # survives standalone


def test_clustering_output_independent_of_partitioning(spark, cluster_inputs,
                                                       clustered):
    """Determinism net: the full clustering output must be identical when
    every input layer arrives re-partitioned in a different row order."""
    ski_areas, runs, lifts, spots = cluster_inputs
    shuffled = cluster_ski_areas(
        ski_areas.orderBy(F.desc("id")).repartition(5),
        runs.repartition(7, F.col("geometry")),
        lifts.coalesce(1),
        spots.repartition(3))

    def norm(rows, cols):
        return sorted(tuple(str(r[c]) for c in cols) for r in rows)

    for layer in ("ski_areas", "runs", "lifts", "spots"):
        base_rows = clustered[layer]
        new_rows = shuffled[layer].collect()
        cols = sorted(set(base_rows[0].asDict().keys())) if base_rows else []
        assert norm(base_rows, cols) == norm(new_rows, cols), layer


def test_cluster_ski_areas_job_count(spark, cluster_inputs):
    """Regions come from one two-pass connected-components call, and each
    output is a cut of the walked rows with no join after the walk: the
    four outputs on the scenario fixture collect in at most 30 Spark jobs.
    A label-propagation loop (a few jobs per round) or write-back joins of
    the walk's memberships and stations would blow through this."""
    sc = spark.sparkContext
    group = "test_cluster_ski_areas_job_count"
    sc.setJobGroup(group, "cluster_ski_areas")
    try:
        for df in cluster_ski_areas(*cluster_inputs).values():
            df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 30, len(jobs)


def test_long_nordic_trail_network_is_one_ski_area(spark):
    """150 nordic runs in a line, each 0.004° long with 0.001° gaps, so
    each is within 500 m of its two neighbours only: one region 150 hops
    across, and one generated ski area holding every run."""
    rows = [({"piste:type": "nordic", "name": f"Trail {i}"},
             line(80.0, 47.0 + i * 0.005, 47.004 + i * 0.005))
            for i in range(150)]
    out = cluster_ski_areas(fmt.format_ski_areas_osm(raw(spark, [])),
                            fmt.format_runs(raw(spark, rows)),
                            fmt.format_lifts(raw(spark, [])),
                            fmt.format_spots(raw(spark, [])))
    runs = out["runs"].collect()
    assert len(runs) == 150
    assert {tuple(r.ski_areas) for r in runs} == {tuple(runs[0].ski_areas)}
    assert [s.id for s in out["ski_areas"].collect()] == runs[0].ski_areas
    assert runs[0].ski_areas[0].startswith("gen_")


def test_skimap_without_activities_merges(clustered):
    """A Skimap.org area with NO activities is wildcard-compatible and
    merges into the nearby OSM area (:1559)."""
    names = {r.name for r in clustered["ski_areas"]}
    assert "NA1 skimap" not in names
    sa = next(r for r in clustered["ski_areas"]
              if (r.name or "") == "NA1 resort")
    assert any(s.type == "skimap.org" for s in sa.sources)


class TestAdjacentPolygonAssociation:
    """Polygon adjacency scenarios (:1153, :1263): objects adjacent to a
    polygon associate with it when nothing else contains them, but a
    contained object never leaks to an adjacent neighbor polygon."""

    def test_adjacent_lift_and_chained_run_associate(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "AD1 resort")
        inside = layer_by_name(clustered["runs"], "AD1 in")
        lift = layer_by_name(clustered["lifts"], "AD1 lift")
        far = layer_by_name(clustered["runs"], "AD1 far")
        assert list(inside.ski_areas) == [sa.id]
        assert list(lift.ski_areas) == [sa.id]    # adjacent, not contained
        assert list(far.ski_areas) == [sa.id]     # chained via the lift

    def test_contained_lift_stays_with_its_own_polygon(self, clustered):
        south = next(r for r in clustered["ski_areas"]
                     if (r.name or "") == "AD2 south")
        north = next(r for r in clustered["ski_areas"]
                     if (r.name or "") == "AD2 north")
        s_lift = layer_by_name(clustered["lifts"], "AD2 south lift")
        n_lift = layer_by_name(clustered["lifts"], "AD2 north lift")
        assert list(s_lift.ski_areas) == [south.id]
        assert list(n_lift.ski_areas) == [north.id]


class TestSitePisteKeepRules:
    """site=piste areas keep limited support for edge-case members
    (:2684, :2727) and extend to nearby unassigned runs (:2769)."""

    def test_backcountry_only_site_kept_as_downhill(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "SC1 site")
        assert list(sa.activities) == ["downhill"]
        run = layer_by_name(clustered["runs"], "SC1 member")
        assert list(run.ski_areas) == [sa.id]

    def test_non_skiing_site_kept_with_empty_activities(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "SC2 site")
        assert list(sa.activities) == []
        run = layer_by_name(clustered["runs"], "SC2 member")
        assert list(run.ski_areas) == [sa.id]

    def test_site_with_distant_members_claims_near_far_member(self,
                                                              clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "SF1 site")
        for nm in ("SF1 member A", "SF1 member B", "SF1 near"):
            run = layer_by_name(clustered["runs"], nm)
            assert list(run.ski_areas) == [sa.id], nm

    def test_site_extends_to_nearby_polygon_run(self, clustered):
        sa = next(r for r in clustered["ski_areas"]
                  if (r.name or "") == "SC3 site")
        for nm in ("SC3 member A", "SC3 member B", "SC3 poly"):
            run = layer_by_name(clustered["runs"], nm)
            assert list(run.ski_areas) == [sa.id], nm


def test_spots_associate_to_generated_area(clustered):
    """Spots near a generated cluster join it — but never found one
    (:2877; the founding prohibition is pinned by :2973 above)."""
    run = layer_by_name(clustered["runs"], "SA1 run")
    assert len(run.ski_areas) == 1
    gen_id = run.ski_areas[0]
    station = layer_by_name(clustered["spots"], "SA1 station")
    crossing = next(r for r in clustered["spots"]
                    if r.spot_type == "crossing"
                    and json.loads(r.geometry)["coordinates"][0] == 80.0)
    assert list(station.ski_areas) == [gen_id]
    assert list(crossing.ski_areas) == [gen_id]
    lift = layer_by_name(clustered["lifts"], "SA1 lift")
    assert list(lift.ski_areas) == [gen_id]
    assert station.lift_id == lift.id


def test_spots_sharing_an_id_keep_their_own_rows(spark):
    """One node tagged as a lift station and as a crossing formats to two
    spots with one id (the id hashes type and geometry).  Each keeps its
    own row: both join the generated ski area, only the station snaps to
    the lift and takes its id, and the lift lists the station once."""
    out = cluster_ski_areas(
        fmt.format_ski_areas_osm(raw(spark, [])),
        fmt.format_runs(raw(spark, [({"piste:type": "downhill"},
                                     line(10.0, 47.0, 47.002))])),
        fmt.format_lifts(raw(spark, [({"aerialway": "t-bar"},
                                      line(10.001, 47.0, 47.002))])),
        fmt.format_spots(raw(spark, [({"aerialway": "station",
                                       "piste:dismount": "yes",
                                       "name": "base"},
                                      point(10.0011, 47.0001))])))
    spots = sorted(out["spots"].collect(), key=lambda r: r.spot_type)
    assert [s.spot_type for s in spots] == ["crossing", "lift_station"]
    crossing, station = spots
    assert crossing.id == station.id
    assert len(station.ski_areas) == 1
    assert list(crossing.ski_areas) == list(station.ski_areas)
    [lift] = out["lifts"].collect()
    assert station.lift_id == lift.id
    assert crossing.lift_id is None
    lon, lat = json.loads(station.geometry)["coordinates"][:2]
    assert abs(lon - 10.001) < 1e-9 and abs(lat - 47.0001) < 1e-6
    assert json.loads(crossing.geometry)["coordinates"] == [10.0011, 47.0001]
    assert [s.id for s in lift.stations] == [station.id]


# ---------------------------------------------------------------------------
# the per-region walk, without Spark
# ---------------------------------------------------------------------------

def _obj(oid, geometry, obj_type="run", activities=("downhill",),
         ski_areas=(), spot_type=None, lift_type=None, status="operating"):
    """A ``prepare_objects`` row with the columns the walk reads."""
    return {"id": oid, "obj_type": obj_type, "geometry": geometry,
            "activities": list(activities), "ski_areas": list(ski_areas),
            "is_in_ski_area_site": bool(ski_areas), "difficulty": None,
            "snowmaking": None, "snowfarming": None, "lift_type": lift_type,
            "spot_type": spot_type, "status": status, "name": None,
            "position": None, "entry": None, "exit": None,
            "is_basis_for_new_ski_area": obj_type == "run" and not ski_areas}


def _sa(sid, geometry, source="openstreetmap", activities=()):
    return {"id": sid, "name": sid, "sources": [{"type": source, "id": sid}],
            "activities": list(activities), "status": "operating",
            "websites": [], "wikidata_id": None, "run_convention": "europe",
            "geometry": geometry,
            "is_polygon": json.loads(geometry)["type"] == "Polygon",
            "source": source}


def _pairs(objects, ski_areas):
    """All-pairs twin of ``proximity_pairs`` for a handful of rows."""
    import itertools

    from openskidata_processor_spark.pipeline import clustering as cl
    nodes = sorted(
        [(o["id"], o["geometry"], "object") for o in objects]
        + [(s["id"], s["geometry"], "polygon" if s["is_polygon"] else
            "ski_area") for s in ski_areas if not cl._placeholder(s["geometry"])])
    out = []
    for (a, ga, ka), (b, gb, kb) in itertools.combinations(nodes, 2):
        d, covered = cl.measure_pair(json.loads(ga), ka, json.loads(gb), kb)
        if d <= cl.MAX_DISTANCE_KM:
            out.append((a, b, d, covered))
    return out


def _regions(objects, ski_areas, pairs, membership=True):
    """Region label per vertex from the edges ``cluster_ski_areas`` links:
    pairs, object → site ski area membership, self-loops."""
    from openskidata_processor_spark.operators.graph import find, union
    parent = {v["id"]: v["id"] for v in (*objects, *ski_areas)}
    for a, b, _, _ in pairs:
        union(parent, a, b)
    for o in objects if membership else ():
        for sid in o["ski_areas"]:
            union(parent, o["id"], sid)
    return {v: find(parent, v) for v in parent}


def _walk(objects, ski_areas):
    from openskidata_processor_spark.pipeline.clustering import cluster_region
    objs, sas = cluster_region(objects, ski_areas,
                               _pairs(objects, ski_areas))
    return ({o["id"]: o["ski_areas"] for o in objs},
            {s["id"]: s for s in sas})


class TestRegionWalk:
    """``cluster_region`` on hand-built rows: the per-region Python walk
    behind ``cluster_ski_areas``."""

    def test_contested_claim_goes_to_smallest_seed_id(self):
        # the contested run is 150 m from sa-b's member and 300 m from
        # sa-a's: one component, claimed by the smaller id
        objects = [_obj("r-b", line(10.009, 47.004, 47.006)),
                   _obj("r-a", line(10.017, 47.004, 47.006)),
                   _obj("r-c", line(10.012, 47.004, 47.006))]
        ski_areas = [_sa("sa-b", polygon(10.0, 47.0, 10.01, 47.01)),
                     _sa("sa-a", polygon(10.016, 47.0, 10.026, 47.01))]
        members, _ = _walk(objects, ski_areas)
        assert members == {"r-b": ["sa-b"], "r-a": ["sa-a"],
                           "r-c": ["sa-a"]}

    def test_non_operating_lift_member_is_not_counted(self):
        # a disused lift has no activities, which a polygon's claim treats
        # as a wildcard: it becomes a member but is no operating lift
        objects = [_obj("run", line(50.003, 47.002, 47.004)),
                   _obj("lift", line(50.005, 47.002, 47.004),
                        obj_type="lift", activities=(),
                        lift_type="chair_lift", status="disused")]
        members, sas = _walk(objects, [
            _sa("poly", polygon(50.0, 47.0, 50.01, 47.01),
                activities=("downhill",))])
        assert members == {"run": ["poly"], "lift": ["poly"]}
        stats = sas["poly"]["statistics"]
        assert stats["runs"] is not None
        assert stats["lifts"] is None

    def test_site_members_far_apart_stay_one_region(self):
        # members 2.3 km apart: only the membership edges join them
        site = _sa("site-1", '{"coordinates":[360,360,1],"type":"Point"}')
        objects = [_obj("m-1", line(20.0, 47.0, 47.002),
                        ski_areas=["site-1"]),
                   _obj("m-2", line(20.03, 47.0, 47.002),
                        ski_areas=["site-1"]),
                   _obj("near", line(20.034, 47.0, 47.002))]
        pairs = _pairs(objects, [site])
        regions = _regions(objects, [site], pairs)
        assert len({regions[v] for v in ("site-1", "m-1", "m-2", "near")}) == 1
        by_pairs = _regions(objects, [site], pairs, membership=False)
        assert by_pairs["m-1"] != by_pairs["m-2"]
        members, sas = _walk(objects, [site])
        assert members == {"m-1": ["site-1"], "m-2": ["site-1"],
                           "near": ["site-1"]}
        assert sas["site-1"]["n_members"] == 3

    def test_generated_id_matches_spark_sha2(self):
        # gen_ + the first 28 hex digits Spark computes for these members
        # with sha2(concat_ws('|', cast(array_sort(ids) as string)), 256)
        objects = [_obj("run-1", line(30.0, 47.0, 47.002)),
                   _obj("run-2", line(30.0, 47.003, 47.005)),
                   _obj("lift-1", line(30.001, 47.0, 47.002),
                        obj_type="lift")]
        members, sas = _walk(objects, [])
        gen = "gen_da1a0400e4a355424fd6cfe3d35f"
        assert list(sas) == [gen]
        assert members == {o["id"]: [gen] for o in objects}

    def test_distant_copies_cluster_as_each_alone(self):
        def resort(p, lon):
            objects = [
                _obj(f"{p}run-in", line(lon + 0.005, 47.005, 47.007)),
                _obj(f"{p}lift-in", line(lon + 0.006, 47.005, 47.007),
                     obj_type="lift"),
                _obj(f"{p}run-out", line(lon + 0.005, 47.011, 47.013)),
                _obj(f"{p}station", point(lon + 0.0061, 47.005),
                     obj_type="spot", spot_type="lift_station"),
                _obj(f"{p}nordic", line(lon + 0.05, 47.0, 47.002),
                     activities=("nordic",))]
            ski_areas = [
                _sa(f"{p}poly", polygon(lon, 47.0, lon + 0.01, 47.01)),
                _sa(f"{p}skimap", point(lon + 0.005, 47.006),
                    source="skimap.org", activities=("downhill",))]
            return objects, ski_areas

        a, b = resort("A-", 40.0), resort("B-", 45.0)
        alone = [_walk(*a), _walk(*b)]
        together = _walk(a[0] + b[0], a[1] + b[1])
        assert together == ({**alone[0][0], **alone[1][0]},
                            {**alone[0][1], **alone[1][1]})
        members, sas = together
        assert members["A-run-out"] == ["A-poly"]       # transitive claim
        assert "A-skimap" not in sas                     # merged into A-poly
        assert members["A-nordic"][0].startswith("gen_")

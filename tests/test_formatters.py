"""Formatter unit tests — PySpark ports of the reference's tier-1 suites
(RunFormatter / LiftFormatter / SkiAreaFormatter / SpotFormatter
.unit.test.ts), exercising the same semantic cases on small in-memory
DataFrames."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, MapType, StringType,
                               StructField, StructType)

from openskidata_processor_spark.pipeline import formatters as fmt

LINE = json.dumps({"type": "LineString",
                   "coordinates": [[11.1, 47.5], [11.2, 47.6]]})
POINT = json.dumps({"type": "Point", "coordinates": [11.1, 47.5]})
POLY = json.dumps({"type": "Polygon", "coordinates": [
    [[11.0, 47.0], [11.1, 47.0], [11.1, 47.1], [11.0, 47.0]]]})

RAW_SCHEMA = StructType([
    StructField("osm_type", StringType()),
    StructField("osm_id", LongType()),
    StructField("tags", MapType(StringType(), StringType())),
    StructField("geometry", StringType()),
])


def raw(spark, rows):
    return spark.createDataFrame(
        [("way", 1 + i, t, g) for i, (t, g) in enumerate(rows)], RAW_SCHEMA)


def one(df):
    rows = df.collect()
    assert len(rows) == 1, f"expected 1 row, got {len(rows)}"
    return rows[0]


# ---------------------------------------------------------------------------
# P1 formatRun
# ---------------------------------------------------------------------------

class TestFormatRun:
    def test_simple_run(self, spark):
        r = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "piste:difficulty": "easy",
              "name": "Blue Trail", "ref": "1"}, LINE)])))
        assert r.uses == ["downhill"]
        assert r.name == "Blue Trail"
        assert r.ref == "1"
        assert r.difficulty == "easy"
        assert r.status == "operating"
        assert r.oneway is True  # downhill default
        assert [s.asDict() for s in r.sources] == [
            {"type": "openstreetmap", "id": "way/1"}]
        assert r.difficulty_convention == "europe"

    def test_filters_abandoned_and_lifecycle(self, spark):
        out = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "piste:abandoned": "yes"}, LINE),
            ({"abandoned:piste:type": "downhill"}, LINE),
            ({"proposed:piste:type": "downhill"}, LINE),
            ({"piste:type": "demolished"}, LINE),
        ]))
        assert out.count() == 0

    def test_drops_points_and_unknown_uses(self, spark):
        out = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill"}, POINT),
            ({"piste:type": "unicycling"}, LINE),
        ]))
        assert out.count() == 0

    def test_piste_name_precedence_and_dedupe(self, spark):
        r = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "piste:name": "Piste Name",
              "name": "Other"}, LINE)])))
        assert r.name == "Piste Name"
        r2 = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "name": "Same", "name:en": "Same"},
             LINE)])))
        assert r2.name == "Same"

    def test_ref_prefix_stripped_from_name(self, spark):
        r = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "name": "11 - Peak Run",
              "ref": "11"}, LINE)])))
        assert r.name == "Peak Run"
        assert r.ref == "11"

    def test_oneway_preserved_for_bidirectional_downhill(self, spark):
        r = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "piste:oneway": "no"}, LINE)])))
        assert r.oneway is False

    def test_gladed_from_woods_with_tag_precedence(self, spark):
        rows = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "natural": "wood"}, LINE),
            ({"piste:type": "downhill", "landuse": "forest"}, LINE),
            ({"piste:type": "downhill", "gladed": "no",
              "natural": "wood"}, LINE),
        ])).select("gladed").collect()
        assert [r.gladed for r in rows] == [True, True, False]

    def test_grooming_rules(self, spark):
        rows = fmt.format_runs(raw(spark, [
            ({"piste:type": "nordic", "piste:grooming": "classic;skating"}, LINE),
            ({"piste:type": "nordic", "piste:grooming": "skating+classic"}, LINE),
            ({"piste:type": "downhill", "piste:grooming": "no"}, LINE),
            ({"piste:type": "downhill", "piste:difficulty": "freeride"}, LINE),
            ({"piste:type": "downhill", "piste:grooming": "mogul"}, LINE),
        ])).select("grooming").collect()
        assert [r.grooming for r in rows] == [
            "classic+skating", "classic+skating", "backcountry",
            "backcountry", "mogul"]

    def test_fatbike_and_multi_use(self, spark):
        r = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "fatbike"}, LINE)])))
        assert r.uses == ["fatbike"]
        r2 = one(fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill;nordic"}, LINE)])))
        assert r2.uses == ["downhill", "nordic"]

    def test_splits_multilinestring(self, spark):
        mls = json.dumps({"type": "MultiLineString", "coordinates": [
            [[11.1, 47.5], [11.2, 47.6]], [[11.3, 47.7], [11.4, 47.8]]]})
        out = fmt.format_runs(raw(spark, [({"piste:type": "downhill"}, mls)]))
        rows = out.collect()
        assert len(rows) == 2
        assert all(json.loads(r.geometry)["type"] == "LineString" for r in rows)
        assert rows[0].id != rows[1].id  # per-part content-hash ids

    def test_splits_multipolygon(self, spark):
        # RunFormatter.unit.test.ts:310 — MultiPolygon runs split into
        # separate Polygon features sharing properties
        mp = json.dumps({"type": "MultiPolygon", "coordinates": [
            [[[11.0, 47.0], [11.1, 47.0], [11.1, 47.1], [11.0, 47.0]]],
            [[[12.0, 48.0], [12.1, 48.0], [12.1, 48.1], [12.0, 48.0]]]]})
        rows = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "name": "Bowl"}, mp)])).collect()
        assert len(rows) == 2
        assert all(json.loads(r.geometry)["type"] == "Polygon" for r in rows)
        assert all(r.name == "Bowl" for r in rows)
        assert rows[0].id != rows[1].id

    def test_difficulty_convention_by_location(self, spark):
        na_line = json.dumps({"type": "LineString",
                              "coordinates": [[-120.0, 40.0], [-120.1, 40.1]]})
        jp_line = json.dumps({"type": "LineString",
                              "coordinates": [[138.5, 36.5], [138.6, 36.6]]})
        rows = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill"}, na_line),
            ({"piste:type": "downhill"}, jp_line),
            ({"piste:type": "downhill"}, LINE),
        ])).select("difficulty_convention").collect()
        assert [r.difficulty_convention for r in rows] == [
            "north_america", "japan", "europe"]


# ---------------------------------------------------------------------------
# P2 formatLift
# ---------------------------------------------------------------------------

class TestFormatLift:
    def test_simple_chair_lift(self, spark):
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift", "name": "Quad",
              "aerialway:occupancy": "4", "aerialway:duration": "5"},
             LINE)])))
        assert r.lift_type == "chair_lift"
        assert r.status == "operating"
        assert r.occupancy == 4
        assert r.duration == 300  # 5 min → seconds

    def test_duration_mm_ss(self, spark):
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "gondola", "aerialway:duration": "7:30"}, LINE)])))
        assert r.duration == 450

    def test_access_filters(self, spark):
        out = fmt.format_lifts(raw(spark, [
            ({"aerialway": "t-bar", "access": "no"}, LINE),
            ({"aerialway": "t-bar", "foot": "private"}, LINE),
            ({"aerialway": "t-bar", "usage": "freight"}, LINE),
            ({"railway": "narrow_gauge", "railway:traffic_mode": "freight"},
             LINE),
        ]))
        assert out.count() == 0

    def test_railway_mapping(self, spark):
        rows = fmt.format_lifts(raw(spark, [
            ({"railway": "funicular"}, LINE),
            ({"railway": "narrow_gauge"}, LINE),
        ])).select("lift_type").collect()
        assert [r.lift_type for r in rows] == ["funicular", "railway"]

    def test_lifecycle_status(self, spark):
        r = one(fmt.format_lifts(raw(spark, [
            ({"proposed:aerialway": "chair_lift"}, LINE)])))
        assert r.status == "proposed"
        assert r.lift_type == "chair_lift"

    def test_drops_non_linestring(self, spark):
        out = fmt.format_lifts(raw(spark, [({"aerialway": "t-bar"}, POINT)]))
        assert out.count() == 0

    def test_private_access_kept_with_flag(self, spark):
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift", "access": "private"}, LINE)])))
        assert r.access == "private"

    def test_localized_names_joined_base_first(self, spark):
        # LiftFormatter.unit.test.ts:50 — "name, name:en" in key order
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift", "name": "Nom de la téléski",
              "name:en": "Lift name"}, LINE)])))
        assert r.name == "Nom de la téléski, Lift name"
        r2 = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift", "name": "Lift name",
              "name:en": "Lift name"}, LINE)])))
        assert r2.name == "Lift name"

    def test_stations_initialized_empty(self, spark):
        # LiftFormatter.unit.test.ts:220 — stations starts [] (filled by
        # the clustering association pass), access null without a tag
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift"}, LINE)])))
        assert list(r.stations) == []
        assert r.access is None


# ---------------------------------------------------------------------------
# P3 formatSkiArea
# ---------------------------------------------------------------------------

class TestFormatSkiArea:
    def test_osm_landuse(self, spark):
        r = one(fmt.format_ski_areas_osm(raw(spark, [
            ({"landuse": "winter_sports", "name": "Alpine Resort"}, POLY)])))
        assert r.name == "Alpine Resort"
        assert r.status == "operating"
        assert r.activities == []
        assert r.sources[0]["type"] == "openstreetmap"

    def test_osm_landuse_filters(self, spark):
        out = fmt.format_ski_areas_osm(raw(spark, [
            ({"landuse": "winter_sports", "sport": "soccer"}, POLY),
            ({"landuse": "winter_sports"}, POINT),
            # unsupported VALUE form and <state>=yes form both drop
            # (Status.ts isUnsupportedStatus); the razed: PREFIX form is
            # out of the source contract — the Overpass queries
            # (DownloadURLs.ts:40-45) fetch only the five supported
            # prefixes, so the formatter never sees it (and Status.ts
            # would resolve it "operating", not drop it)
            ({"landuse": "razed"}, POLY),
            ({"landuse": "winter_sports", "razed": "yes"}, POLY),
        ]))
        assert out.count() == 0

    def test_site_placeholder_geometry(self, spark):
        sites = spark.createDataFrame(
            [(100, {"site": "piste", "name": "Site Resort"},
              [{"type": "way", "ref": 1, "role": ""}])],
            "site_id long, tags map<string,string>, "
            "members array<struct<type:string, ref:long, role:string>>")
        r = one(fmt.format_ski_areas_sites(sites))
        g = json.loads(r.geometry)
        assert g["coordinates"] == [360, 360, 100]
        assert r.name == "Site Resort"

    def test_skimap_org(self, spark):
        skimap = spark.createDataFrame(
            [("sm1", "Powder Mtn", "operating", ["downhill"], 1,
              "https://x.example", POINT)],
            "id string, name string, status string, activities array<string>,"
            " scalerank int, official_website string, geometry string")
        r = one(fmt.format_ski_areas_skimap(skimap))
        assert [s.asDict() for s in r.sources] == [
            {"type": "skimap.org", "id": "sm1"}]
        assert r.activities == ["downhill"]
        assert r.websites == ["https://x.example"]


# ---------------------------------------------------------------------------
# P4 formatSpots
# ---------------------------------------------------------------------------

class TestFormatSpots:
    def test_crossing(self, spark):
        r = one(fmt.format_spots(raw(spark, [
            ({"piste:dismount": "sometimes"}, LINE)])))
        assert r.spot_type == "crossing"
        assert r.dismount == "sometimes"
        assert json.loads(r.geometry)["type"] == "Point"

    def test_invalid_dismount_dropped(self, spark):
        out = fmt.format_spots(raw(spark, [
            ({"piste:dismount": "maybe"}, LINE)]))
        assert out.count() == 0

    def test_lift_station_entry_exit(self, spark):
        rows = {r.position: r for r in fmt.format_spots(raw(spark, [
            ({"aerialway": "station", "aerialway:station": "top",
              "aerialway:access": "exit"}, POINT),
            ({"aerialway": "station", "aerialway:station": "bottom",
              "aerialway:access": "both"}, POINT),
        ])).collect()}
        assert rows["top"].entry is False and rows["top"].exit is True
        assert rows["bottom"].entry is True and rows["bottom"].exit is True

    def test_avalanche_and_halfpipe(self, spark):
        out = fmt.format_spots(raw(spark, [
            ({"amenity": "avalanche_transceiver",
              "avalanche_transceiver": "training"}, POINT),
            ({"amenity": "avalanche_transceiver",
              "avalanche_transceiver": "checkpoint"}, POINT),
            ({"man_made": "piste:halfpipe"}, POLY),
        ]))
        types = sorted(r.spot_type for r in out.collect())
        assert types == ["avalanche_transceiver_checkpoint",
                         "avalanche_transceiver_training", "halfpipe"]

    def test_one_feature_multiple_spots(self, spark):
        out = fmt.format_spots(raw(spark, [
            ({"aerialway": "station", "piste:dismount": "yes"}, POINT)]))
        assert sorted(r.spot_type for r in out.collect()) == [
            "crossing", "lift_station"]


# ---------------------------------------------------------------------------
# J1 site membership join
# ---------------------------------------------------------------------------

SITE_DDL = ("site_id long, tags map<string,string>, "
            "members array<struct<type:string, ref:long, role:string>>")


def site(spark, *members):
    """One ``site=piste`` relation (id 100) with (type, ref) members."""
    return spark.createDataFrame(
        [(100, {"site": "piste", "name": "Site Resort"},
          [{"type": t, "ref": ref, "role": ""} for t, ref in members])],
        SITE_DDL)


class TestSiteMembership:
    def test_attach_site_ski_areas(self, spark):
        sites = site(spark, ("way", 1), ("way", 3))
        runs = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill"}, LINE),   # osm_id 1 → member
            ({"piste:type": "nordic"},
             json.dumps({"type": "LineString",
                         "coordinates": [[12.0, 46.0], [12.1, 46.1]]})),
        ]))
        site_areas = fmt.format_ski_areas_sites(sites)
        site_id = site_areas.collect()[0].id
        out = {r["sources"][0]["id"]: r for r in
               fmt.attach_site_ski_areas(runs, sites, site_areas).collect()}
        assert out["way/1"].ski_areas == [site_id]
        assert out["way/2"].ski_areas == []

    def test_uses_the_site_layer_it_is_given(self, spark):
        # the site feature id comes from ``site_ski_areas``, not from a
        # fresh format of ``sites``
        sites = site(spark, ("way", 1))
        site_areas = fmt.format_ski_areas_sites(sites).withColumn(
            "id", F.lit("given-site-id"))
        runs = fmt.format_runs(raw(spark, [({"piste:type": "downhill"}, LINE)]))
        r = one(fmt.attach_site_ski_areas(runs, sites, site_areas))
        assert r.ski_areas == ["given-site-id"]

    def test_equal_geometry_rows_share_membership(self, spark):
        # way/1 and way/2 have the same type and geometry, hence the same
        # id; only way/1 is a member, and both rows get the site
        sites = site(spark, ("way", 1))
        site_areas = fmt.format_ski_areas_sites(sites)
        site_id = site_areas.collect()[0].id
        runs = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill"}, LINE),
            ({"piste:type": "nordic"}, LINE)]))
        rows = fmt.attach_site_ski_areas(runs, sites, site_areas).collect()
        assert len(rows) == 2 and rows[0].id == rows[1].id
        assert [r.ski_areas for r in rows] == [[site_id], [site_id]]

    def test_station_crossing_node_keeps_both_spots(self, spark):
        sites = site(spark, ("node", 7))
        site_areas = fmt.format_ski_areas_sites(sites)
        site_id = site_areas.collect()[0].id
        node = spark.createDataFrame(
            [("node", 7, {"aerialway": "station", "piste:dismount": "yes"},
              POINT)], RAW_SCHEMA)
        rows = fmt.attach_site_ski_areas(
            fmt.format_spots(node), sites, site_areas).collect()
        assert sorted(r.spot_type for r in rows) == ["crossing",
                                                     "lift_station"]
        assert [r.ski_areas for r in rows] == [[site_id], [site_id]]

    def test_feature_without_one_source_raises(self, spark):
        sites = site(spark, ("way", 1))
        runs = fmt.format_runs(raw(spark, [({"piste:type": "downhill"}, LINE)]))
        two_sources = runs.withColumn(
            "sources", F.concat(F.col("sources"), F.col("sources")))
        with pytest.raises(PySparkException, match="has 2 sources"):
            fmt.attach_site_ski_areas(
                two_sources, sites, fmt.format_ski_areas_sites(sites)).collect()


class TestOnePassPlans:
    """Each formatted layer reads its input once and evaluates its one
    Python geometry UDF once (runs: validity + split; lifts and OSM ski
    areas: validity; spots: centroid)."""

    def test_one_scan_and_one_udf_evaluation_per_layer(self, spark, tmp_path):
        multi = json.dumps({"type": "MultiLineString", "coordinates": [
            [[11.1, 47.5], [11.2, 47.6]], [[11.3, 47.5], [11.4, 47.6]]]})
        inputs = {
            "runs_raw": [({"piste:type": "downhill"}, LINE),
                         ({"piste:type": "nordic"}, multi)],
            "lifts_raw": [({"aerialway": "chair_lift"}, LINE)],
            "spots_raw": [({"aerialway": "station", "piste:dismount": "yes"},
                           POINT),
                          ({"man_made": "piste:halfpipe"}, POLY)],
            "ski_areas_raw": [({"landuse": "winter_sports"}, POLY)],
        }
        read = {}
        for name, rows in inputs.items():
            raw(spark, rows).write.parquet(str(tmp_path / name))
            read[name] = spark.read.parquet(str(tmp_path / name))
        site(spark, ("way", 1)).write.parquet(str(tmp_path / "sites"))
        sites = spark.read.parquet(str(tmp_path / "sites"))
        skimap = spark.createDataFrame(
            [], "id string, name string, status string, "
            "activities array<string>, scalerank int, "
            "official_website string, geometry string")
        site_areas = fmt.format_ski_areas_sites(sites)
        layers = {
            "runs_raw": fmt.attach_site_ski_areas(
                fmt.format_runs(read["runs_raw"]), sites, site_areas),
            "lifts_raw": fmt.attach_site_ski_areas(
                fmt.format_lifts(read["lifts_raw"]), sites, site_areas),
            "spots_raw": fmt.attach_site_ski_areas(
                fmt.format_spots(read["spots_raw"]), sites, site_areas),
            "ski_areas_raw": fmt.format_ski_areas(
                read["ski_areas_raw"], sites, skimap),
        }
        counts = {}
        for name, df in layers.items():
            assert df.collect()
            # AQE prints the final plan, then the initial one
            plan = df._jdf.queryExecution().executedPlan().toString()
            final = plan.split("Initial Plan")[0]
            # the layer's own input is the one scan that reads osm_type
            scans = final.count("ReadSchema: struct<osm_type:")
            counts[name] = (final.count("ArrowEvalPython"), scans)
        # (ArrowEvalPython nodes, input scans) per layer
        assert counts == {name: (1, 1) for name in inputs}


class TestStatusResolution:
    """Exact Status.ts:9-58 branch semantics (unit spec + LiftFormatter
    :163 'drops invalid tagging mixing lifecycle & proposed value
    tagging')."""

    def test_mixed_value_and_prefix_tagging_drops(self, spark):
        # aerialway=proposed consumes the value-tagging branch; the
        # prefixed proposed:aerialway is NOT consulted → value null →
        # lift dropped
        out = fmt.format_lifts(raw(spark, [
            ({"aerialway": "proposed", "proposed:aerialway": "gondola"},
             LINE)]))
        assert out.count() == 0

    def test_value_tagging_scheme(self, spark):
        # aerialway=proposed + proposed=gondola → (proposed, gondola)
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "proposed", "proposed": "gondola"}, LINE)])))
        assert r.status == "proposed" and r.lift_type == "gondola"

    def test_plain_key_wins_over_prefix(self, spark):
        # plain aerialway present and not a lifecycle value → the
        # prefixed form is ignored entirely
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "gondola", "proposed:aerialway": "chair_lift"},
             LINE)])))
        assert r.status == "operating" and r.lift_type == "gondola"

    def test_state_yes_flag_with_plain_value(self, spark):
        r = one(fmt.format_lifts(raw(spark, [
            ({"aerialway": "gondola", "disused": "yes"}, LINE)])))
        assert r.status == "disused" and r.lift_type == "gondola"

    def test_unsupported_state_yes_drops(self, spark):
        out = fmt.format_lifts(raw(spark, [
            ({"aerialway": "gondola", "demolished": "yes"}, LINE)]))
        assert out.count() == 0

    def test_prefix_scan_order_disused_first(self, spark):
        # both prefixed forms present → reference scan order picks disused
        r = one(fmt.format_lifts(raw(spark, [
            ({"disused:aerialway": "gondola",
              "abandoned:aerialway": "chair_lift"}, LINE)])))
        assert r.status == "disused" and r.lift_type == "gondola"

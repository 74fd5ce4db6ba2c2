"""Sink tests: GeoJSON FeatureCollection, CSV schemas, GeoPackage-lite."""

from __future__ import annotations

import json
import os
import shutil
import sqlite3

import pytest
from pyspark.sql import functions as F

from openskidata_processor_spark.pipeline import formatters as fmt
from openskidata_processor_spark.pipeline.statistics import STATISTICS_DDL
from openskidata_processor_spark.sinks import csv as csvsink
from openskidata_processor_spark.sinks import geojson, geopackage
from test_formatters import raw

LINE3D = json.dumps({"type": "LineString",
                     "coordinates": [[11.1, 47.1, 2000.0],
                                     [11.2, 47.2, 1700.0]]})


@pytest.fixture(scope="module")
def runs(spark):
    return fmt.format_runs(raw(spark, [
        ({"piste:type": "downhill", "piste:difficulty": "easy",
          "name": "Blue, with \"quotes\""}, LINE3D),
        ({"piste:type": "nordic"}, LINE3D),
    ]))


class TestGeoJSON:
    def test_feature_collection_roundtrip(self, spark, runs, tmp_path):
        path = str(tmp_path / "runs.geojson")
        geojson.write_feature_collection(runs, path)
        fc = json.load(open(path))
        assert fc["type"] == "FeatureCollection"
        assert len(fc["features"]) == 2
        f = fc["features"][0]
        assert f["type"] == "Feature"
        assert f["geometry"]["type"] == "LineString"
        assert "uses" in f["properties"]
        # id-ordered output (O1)
        ids = [x["properties"]["id"] for x in fc["features"]]
        assert ids == sorted(ids)

    def test_jsonl_shards(self, spark, runs, tmp_path):
        path = str(tmp_path / "runs_jsonl")
        geojson.write_feature_jsonl(runs, path)
        df = spark.read.text(path)
        assert df.count() == 2
        assert json.loads(df.first().value)["type"] == "Feature"

    def test_read_feature_collection_routes_by_shape(self, spark, runs,
                                                     tmp_path):
        """Directory → splittable JSONL scan; big single file →
        executor-side multiLine parse; small file → driver parity path.
        All three return the same features."""
        # multi-partition JSONL directory (the 100 TB entry)
        jdir = str(tmp_path / "fc_jsonl")
        geojson.write_feature_jsonl(runs.repartition(4), jdir)
        dist = geojson.read_feature_collection(spark, jdir)
        assert dist.rdd.getNumPartitions() > 1  # genuinely splittable scan
        dist_ids = sorted(json.loads(r.feature)["properties"]["id"]
                          for r in dist.collect())

        fpath = str(tmp_path / "fc.geojson")
        geojson.write_feature_collection(runs, fpath)
        small_ids = sorted(
            json.loads(r.feature)["properties"]["id"]
            for r in geojson.read_feature_collection(spark, fpath).collect())
        # force the executor-side multiLine path on the same file
        big_ids = sorted(
            json.loads(r.feature)["properties"]["id"]
            for r in geojson.read_feature_collection(
                spark, fpath, max_driver_bytes=0).collect())
        assert dist_ids == small_ids == big_ids and len(dist_ids) == 2

    def test_read_heterogeneous_fc_multiline_parity(self, spark, tmp_path):
        """Regression: the executor-side multiLine path must
        not run schema inference — a FeatureCollection mixing Point and
        Polygon (conflicting coordinate nesting) with null-valued
        properties must come back structurally identical to the driver
        path, nulls retained, on both paths."""
        feats = [
            {"type": "Feature",
             "properties": {"id": "p1", "name": "pt", "ele": None},
             "geometry": {"type": "Point", "coordinates": [7.5, 46.0]}},
            {"type": "Feature",
             "properties": {"id": "g1", "name": None, "ele": 1200.5},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[0.0, 0.0], [1.0, 0.0],
                                           [1.0, 1.0], [0.0, 0.0]]]}},
            {"type": "Feature",
             "properties": {"id": "l1", "tags": {"k": "v", "n": None}},
             "geometry": {"type": "LineString",
                          "coordinates": [[0.0, 0.0], [2.5, 3.5]]}},
        ]
        fpath = str(tmp_path / "hetero.geojson")
        with open(fpath, "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f,
                      indent=2)

        def parsed(df):
            out = sorted((json.loads(r.feature) for r in df.collect()),
                         key=lambda x: x["properties"]["id"])
            return out

        small = parsed(geojson.read_feature_collection(spark, fpath))
        big = parsed(geojson.read_feature_collection(
            spark, fpath, max_driver_bytes=0))
        want = sorted(feats, key=lambda x: x["properties"]["id"])
        assert small == want
        assert big == want  # nulls kept, nesting intact, no coercion


class TestCSV:
    def test_run_csv_schema_and_metrics(self, runs):
        out = csvsink.run_csv(runs)
        assert out.columns == csvsink.RUN_HEADERS
        rows = {r.difficulty: r for r in out.collect()}
        easy = rows["easy"]
        assert easy.color == "blue"  # europe/easy
        assert easy.descent_m == "300"
        assert easy.ascent_m == "0"
        assert float(easy.inclined_length_m) > 13000  # ~13.7 km slope length
        assert easy.min_elevation_m == "1700"
        assert easy.openskimap.startswith("https://openskimap.org/?obj=")

    def test_lift_csv_schema(self, spark):
        lifts = fmt.format_lifts(raw(spark, [
            ({"aerialway": "chair_lift", "aerialway:duration": "5"},
             LINE3D)]))
        out = csvsink.lift_csv(lifts)
        assert out.columns == csvsink.LIFT_HEADERS
        r = out.collect()[0]
        assert r.duration_sec == 300
        assert r.vertical_m == "300"
        assert float(r.speed_m_per_s) > 40  # 13.7 km in 300 s

    def test_spot_csv_schema(self, spark):
        spots = fmt.format_spots(raw(spark, [
            ({"piste:dismount": "yes"}, LINE3D)]))
        out = csvsink.spot_csv(spots)
        assert out.columns == csvsink.SPOT_HEADERS
        assert out.collect()[0].dismount == "yes"

    def test_ski_area_csv_schema(self, spark):
        poly = json.dumps({"type": "Polygon", "coordinates": [
            [[11.0, 47.0], [11.1, 47.0], [11.1, 47.1], [11.0, 47.0]]]})
        areas = fmt.format_ski_areas_osm(raw(spark, [
            ({"landuse": "winter_sports", "name": "R"}, poly)]))
        areas = areas.withColumn("statistics",
                                 F.lit(None).cast(STATISTICS_DDL))
        out = csvsink.ski_area_csv(areas)
        assert out.columns == csvsink.SKI_AREA_HEADERS
        assert out.collect()[0].name == "R"

    def test_csv_escaping_via_spark_writer(self, spark, runs, tmp_path):
        path = str(tmp_path / "runs_csv")
        csvsink.write_csv(csvsink.run_csv(runs), path)
        df = spark.read.option("header", True).csv(path)
        names = {r.name for r in df.select("name").collect()}
        assert 'Blue, with "quotes"' in names


class TestCSVLines:
    """The CSV sink writes ``to_csv`` lines from the driver; they must be
    the bytes ``DataFrameWriter.csv(header=True)`` writes for the same
    rows, adversarial values included."""

    VALUES = ["plain", "a,b", 'say "hi"', "back\\slash", "two\nlines",
              "carriage\rreturn", "crlf\r\nend", "  padded  ", "",
              None, "Zürich – 滑雪", '\\"', "trailing ", " leading"]

    def _frame(self, spark):
        rows = [(f"id{i:02d}", v, i, v if i % 2 else None)
                for i, v in enumerate(self.VALUES)]
        return spark.createDataFrame(
            rows, "id string, text string, n int, other string")

    def _spark_file(self, df, path):
        df.coalesce(1).write.mode("overwrite").option("header", True) \
            .csv(path)
        parts = [p for p in os.listdir(path) if p.startswith("part-")
                 and p.endswith(".csv")]
        assert len(parts) == 1
        with open(os.path.join(path, parts[0]), "rb") as f:
            return f.read()

    def _driver_file(self, df, path):
        csvsink.write_csv(df, path)
        assert os.listdir(path) == ["part-00000.csv"]
        with open(os.path.join(path, "part-00000.csv"), "rb") as f:
            return f.read()

    def test_lines_match_spark_writer(self, spark, tmp_path):
        df = self._frame(spark)
        want = self._spark_file(df, str(tmp_path / "spark"))
        got = self._driver_file(df, str(tmp_path / "driver"))
        assert got == want
        # the adversarial values really are in play
        assert b'""' in got and b"\\" in got and "滑雪".encode() in got

    def test_empty_layer_writes_header(self, spark, tmp_path):
        df = self._frame(spark).limit(0)
        got = self._driver_file(df, str(tmp_path / "driver"))
        assert got == b"id,text,n,other\n"
        assert self._spark_file(df, str(tmp_path / "spark")) == got


class TestGeoPackage:
    def test_write_and_read_back(self, spark, runs, tmp_path):
        path = str(tmp_path / "out.gpkg")
        geopackage.write_geopackage({"runs": runs}, path)
        con = sqlite3.connect(path)
        tables = {r[0] for r in con.execute(
            "SELECT table_name FROM gpkg_contents")}
        # geometry-type-suffixed tables (GeoPackageWriter.ts:576-585)
        assert tables == {"runs_linestring"}
        n, = con.execute("SELECT count(*) FROM runs_linestring").fetchone()
        assert n == 2
        blob, = con.execute(
            "SELECT geom FROM runs_linestring LIMIT 1").fetchone()
        assert blob[:2] == b"GP"          # gpkg magic
        assert blob[8] == 1               # little-endian wkb
        assert int.from_bytes(blob[9:13], "little") == 2  # LineString

    def test_ski_area_dual_export(self, spark, tmp_path):
        poly = json.dumps({"type": "Polygon", "coordinates": [
            [[11.0, 47.0], [11.1, 47.0], [11.1, 47.1], [11.0, 47.0]]]})
        areas = fmt.format_ski_areas_osm(raw(spark, [
            ({"landuse": "winter_sports", "name": "R"}, poly)]))
        path = str(tmp_path / "sa.gpkg")
        geopackage.write_geopackage({"ski_areas": areas}, path)
        con = sqlite3.connect(path)
        tables = {r[0] for r in con.execute(
            "SELECT table_name FROM gpkg_contents")}
        # centroid point layer + multipolygon layer, never _polygon
        # (GeoPackageWriter.unit.test.ts:151-205)
        assert tables == {"ski_areas_point", "ski_areas_multipolygon"}
        blob, = con.execute("SELECT geom FROM ski_areas_point").fetchone()
        assert int.from_bytes(blob[9:13], "little") == 1  # Point
        blob, = con.execute(
            "SELECT geom FROM ski_areas_multipolygon").fetchone()
        assert int.from_bytes(blob[9:13], "little") == 6  # MultiPolygon

    def test_merge_ignores_duplicates(self, spark, runs, tmp_path):
        p1, p2 = str(tmp_path / "a.gpkg"), str(tmp_path / "b.gpkg")
        geopackage.write_geopackage({"runs": runs}, p1)
        geopackage.write_geopackage({"runs": runs}, p2)
        out = str(tmp_path / "merged.gpkg")
        geopackage.merge_geopackages([p1, p2], out)
        con = sqlite3.connect(out)
        n, = con.execute("SELECT count(*) FROM runs_linestring").fetchone()
        assert n == 4  # INSERT OR IGNORE keeps by rowid; no constraint dupes


class TestPlaceRollups:
    def test_nested_reference_place_shape(self, spark):
        # the reference Geocoder's nested Place struct (Geocoder.ts:45-55)
        line = json.dumps({"type": "LineString",
                           "coordinates": [[11.1, 47.1], [11.2, 47.2]]})
        runs = spark.createDataFrame(
            [("r1", "Run", None, None, "easy", "europe", None, None, None,
              None, None, ["downhill"], [], "operating",
              [("openstreetmap", "way/1")], [], None, None, line,
              [(("AT", "AT-7", (("Austria", "Tyrol", "Innsbruck"),)))])],
            "id string, name string, ref string, description string,"
            " difficulty string, difficulty_convention string,"
            " oneway boolean, gladed boolean, patrolled boolean,"
            " grooming string, lit boolean, uses array<string>,"
            " ski_areas array<string>, status string,"
            " sources array<struct<type:string,id:string>>,"
            " websites array<string>, wikidata_id string, snowmaking boolean,"
            " geometry string,"
            " places array<struct<iso3166_1Alpha2:string, iso3166_2:string,"
            "   localized:struct<en:struct<country:string, region:string,"
            "   locality:string>>>>")
        out = csvsink.run_csv(runs).collect()[0]
        assert out.countries == "Austria"
        assert out.regions == "Tyrol"
        assert out.localities == "Innsbruck"

    def test_ski_area_names_join(self, spark, runs):
        areas = spark.createDataFrame(
            [("sa1", "Alpine Resort")], "id string, name string")
        tagged = runs.withColumn(
            "ski_areas",
            __import__("pyspark.sql.functions", fromlist=["F"]).array(
                __import__("pyspark.sql.functions", fromlist=["F"]).lit("sa1")))
        out = csvsink.run_csv(tagged, areas).collect()
        assert all(r.ski_area_names == "Alpine Resort" for r in out)


class TestMergeOutputs:
    def _mkdir_outputs(self, root, tag):
        d = root / tag
        (d / "csv" / "runs").mkdir(parents=True)
        feat = {"type": "Feature", "properties": {"name": f"run-{tag}"},
                "geometry": {"type": "Point", "coordinates": [0, 0]}}
        (d / "runs.geojson").write_text(json.dumps(
            {"type": "FeatureCollection", "features": [feat]}))
        (d / "csv" / "runs" / "part-00000.csv").write_text(
            f"name,id\nrun-{tag},{tag}\n")
        return d

    def test_merge_outputs(self, tmp_path):
        from openskidata_processor_spark.sinks.merge import merge_outputs
        d1 = self._mkdir_outputs(tmp_path, "a")
        d2 = self._mkdir_outputs(tmp_path, "b")
        out = tmp_path / "merged"
        counts = merge_outputs([str(d1), str(d2)], str(out))
        assert counts["geojson"] == 1 and counts["csv"] == 1
        fc = json.loads((out / "runs.geojson").read_text())
        assert [f["properties"]["name"] for f in fc["features"]] == \
            ["run-a", "run-b"]
        merged_csv = (out / "csv" / "runs" /
                      "part-00000-merged.csv").read_text().splitlines()
        assert merged_csv == ["name,id", "run-a,a", "run-b,b"]

    def test_merge_keeps_csv_field_bytes(self, spark, tmp_path):
        """Quoted fields holding line breaks other than "\\n" pass through
        a merge unchanged (no universal newlines, no str.splitlines)."""
        from openskidata_processor_spark.sinks.merge import merge_outputs
        runs = fmt.format_runs(raw(spark, [
            ({"piste:type": "downhill", "description": "a\u2028b\rc"},
             LINE3D)]))
        parts = []
        for tag in ("a", "b"):
            d = tmp_path / tag / "csv" / "runs"
            csvsink.write_csv(csvsink.run_csv(runs), str(d))
            parts.append((d / "part-00000.csv").read_bytes())
        merge_outputs([str(tmp_path / "a"), str(tmp_path / "b")],
                      str(tmp_path / "m"))
        merged = (tmp_path / "m" / "csv" / "runs" /
                  "part-00000-merged.csv").read_bytes()
        header, _, rows = parts[0].partition(b"\n")
        assert "a\u2028b\rc".encode() in rows
        assert merged == header + b"\n" + rows + rows

    def test_merge_csv_header_mismatch(self, tmp_path):
        from openskidata_processor_spark.sinks.merge import merge_outputs
        d1 = self._mkdir_outputs(tmp_path, "a")
        d2 = self._mkdir_outputs(tmp_path, "b")
        (d2 / "csv" / "runs" / "part-00000.csv").write_text("other,hdr\nx,y\n")
        with pytest.raises(ValueError, match="header mismatch"):
            merge_outputs([str(d1), str(d2)], str(tmp_path / "m2"))

    def test_generate_tiles_with_stub_binaries(self, tmp_path, monkeypatch):
        """The engine side of the K4 contract — command construction, zoom
        ranges, layer names, invocation order, produced-file list — tested
        with PATH-stubbed tippecanoe/tile-join that log argv and touch
        their -o target.  The real-binary test below stays env-gated; this
        one always runs."""
        from openskidata_processor_spark.sinks.merge import generate_tiles
        bin_dir = tmp_path / "bin"
        bin_dir.mkdir()
        log = tmp_path / "argv.log"
        stub = ("#!/bin/sh\n"
                f"echo \"$0 $@\" >> {log}\n"
                'prev=""\n'
                'for a in "$@"; do\n'
                '  if [ "$prev" = "-o" ]; then touch "$a"; fi\n'
                '  prev="$a"\n'
                "done\n")
        for name in ("tippecanoe", "tile-join"):
            sb = bin_dir / name
            sb.write_text(stub)
            sb.chmod(0o755)
        monkeypatch.setenv("PATH", f"{bin_dir}:{os.environ['PATH']}")

        out = tmp_path / "out"
        out.mkdir()
        produced = generate_tiles(str(out))
        assert produced == [f"{out}/lifts.mbtiles", f"{out}/runs.mbtiles",
                            f"{out}/ski_areas.mbtiles",
                            f"{out}/openskimap.mbtiles"]
        for f in produced:
            assert os.path.exists(f)
        lines = log.read_text().strip().splitlines()
        assert len(lines) == 4
        # zoom-range + layer contract (TilesGenerator.ts:21-58)
        assert "-Z 5 -z 15 -l lifts" in lines[0]
        assert "-Z 9 -z 15 -l runs" in lines[1]
        assert "-Z 0 -z 15 -l skiareas" in lines[2]
        assert lines[3].endswith(f"{out}/lifts.mbtiles {out}/runs.mbtiles "
                                 f"{out}/ski_areas.mbtiles")
        assert all("tippecanoe" in ln for ln in lines[:3])
        assert "tile-join" in lines[3]

    @pytest.mark.skipif(shutil.which("tippecanoe") is None
                        or shutil.which("tile-join") is None,
                        reason="tippecanoe/tile-join not installed")
    def test_generate_tiles(self, tmp_path):
        from openskidata_processor_spark.sinks.merge import generate_tiles
        fc = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"id": "l1"},
             "geometry": {"type": "LineString",
                          "coordinates": [[11.0, 47.0], [11.01, 47.01]]}}]}
        for name in ("mapboxgl_lifts.geojson", "mapboxgl_runs.geojson",
                     "mapboxgl_ski_areas.geojson"):
            (tmp_path / name).write_text(json.dumps(fc))
        produced = generate_tiles(str(tmp_path))
        assert (tmp_path / "openskimap.mbtiles").exists()
        assert len(produced) == 4


class TestCSVReferenceVectors:
    """Byte-parity against the reference's CSVFormatter inline snapshots
    (CSVFormatter.unit.test.ts) — the whole row, joined exactly as the
    reference joins fields."""

    def _row_line(self, row):
        return ",".join("" if v is None else str(v) for v in row)

    def test_run_vector(self, spark):
        schema = ("id string, name string, ref string, description string,"
                  " difficulty string, difficulty_convention string,"
                  " oneway boolean, lit boolean, gladed boolean,"
                  " patrolled boolean, grooming string, uses array<string>,"
                  " wikidata_id string, websites array<string>,"
                  " ski_areas array<string>,"
                  " sources array<struct<type:string,id:string>>,"
                  " geometry string")
        geom = json.dumps({"type": "LineString", "coordinates": [
            [11.177452968770694, 47.312650638218656, 2000],
            [11.175409464719593, 47.31138883724759, 1800]]})
        runs = spark.createDataFrame([(
            "test-run", "Test Run", "5", None, "intermediate", "europe",
            True, True, False, True, None, ["downhill"], None, [],
            ["test-ski-area"], [("openstreetmap", "123")], geom)], schema)
        sa = spark.createDataFrame(
            [("test-ski-area", "Test Ski Area")], "id string, name string")
        line = self._row_line(csvsink.run_csv(runs, sa).collect()[0])
        assert line == (
            "Test Run,5,,,,Test Ski Area,intermediate,red,yes,yes,no,yes,,"
            "downhill,289,200,0,0.96,0.96,1800,2000,europe,,,"
            "https://openskimap.org/?obj=test-run,test-run,LineString,"
            "47.312020,11.176431,test-ski-area,"
            "https://www.openstreetmap.org/123,")

    def test_lift_vector(self, spark):
        schema = ("id string, name string, ref string, ref_fr_cairn string,"
                  " lift_type string, status string, access string,"
                  " description string, oneway boolean, duration int,"
                  " capacity int, occupancy int, detachable boolean,"
                  " bubble boolean, heating boolean, wikidata_id string,"
                  " websites array<string>, ski_areas array<string>,"
                  " sources array<struct<type:string,id:string>>,"
                  " geometry string")
        geom = json.dumps({"type": "LineString", "coordinates": [
            [10.0, 20.0, 1600], [10.1, 20.1, 1800], [10.2, 20.2, 2000]]})
        lifts = spark.createDataFrame([(
            "test-lift", "Test Lift", "A", None, "chair_lift", "operating",
            None, None, None, 600, 2400, 4, True, True, True, None, [],
            ["test-ski-area"], [("openstreetmap", "123")], geom)], schema)
        sa = spark.createDataFrame(
            [("test-ski-area", "Test Ski Area")], "id string, name string")
        line = self._row_line(csvsink.lift_csv(lifts, sa).collect()[0])
        assert line == (
            "Test Lift,A,,chair_lift,operating,,,,,Test Ski Area,,600,2400,"
            "4,yes,yes,yes,30511,400,50.9,0.67,1600,2000,0.01,,,"
            "https://openskimap.org/?obj=test-lift,test-lift,LineString,"
            "20.100000,10.100000,test-ski-area,"
            "https://www.openstreetmap.org/123,")


    def test_ski_area_vector(self, spark):
        schema = ("id string, name string, status string,"
                  " activities array<string>, run_convention string,"
                  " wikidata_id string, websites array<string>,"
                  " places array<struct<iso3166_1:string, iso3166_2:string,"
                  " country:string, region:string, locality:string>>,"
                  " sources array<struct<type:string, id:string>>,"
                  f" statistics {STATISTICS_DDL}, geometry string")
        geom = json.dumps({"type": "Point", "coordinates": [10.0, 20.0]})
        run_measures = lambda n, km: (n, km, 0.0, 0.0, 0.0, 0.0, 0.0)  # noqa: E731
        areas = spark.createDataFrame([(
            "test-ski-area", "Test Ski Area", "operating",
            ["downhill", "nordic"], "europe", None,
            ["https://testskiarea.com"],
            [("US", "US-CO", "United States", "Colorado", "Vail")],
            [("openstreetmap", "123"), ("skimap.org", "456")],
            (({"downhill": {"novice": run_measures(2, 5.0),
                            "intermediate": run_measures(5, 10.0)},
               "nordic": {"novice": run_measures(1, 8.0)}}, None, None),
             ({"chair_lift": (3, 3.5, 0.0, 0.0, 0.0),
               "gondola": (1, 2.0, 0.0, 0.0, 0.0)}, None, None),
             1200.0, 2400.0),
            geom)], schema)
        line = self._row_line(csvsink.ski_area_csv(areas).collect()[0])
        # CSVFormatter.unit.test.ts:103-106 inline snapshot — note
        # surface_lifts_count is EMPTY (no surface lifts), not 0
        assert line == (
            "Test Ski Area,United States,Colorado,Vail,operating,yes,yes,"
            "15,8,1200,1200,2400,4,,europe,,https://testskiarea.com,"
            "https://openskimap.org/?obj=test-ski-area,test-ski-area,Point,"
            "20.000000,10.000000,"
            "https://www.openstreetmap.org/123 "
            "https://www.skimap.org/SkiAreas/view/456")

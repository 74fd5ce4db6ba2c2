"""Utility CLI parity tests (clear_cache / debug_geocode / extract_tiles
— the reference's src/scripts operational tools)."""

from __future__ import annotations

import json
import os
import sqlite3

from openskidata_processor_spark import cli


def _write_cache(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


class TestClearCache:
    def test_full_clear(self, spark, tmp_path):
        root = str(tmp_path / "caches")
        _write_cache(spark, f"{root}/elevation_cache",
                     [("u0q", 100.0, 1000), ("u0r", 200.0, 2000)],
                     "key string, elevation double, timestamp long")
        _write_cache(spark, f"{root}/geocode_cache",
                     [("u0q", "AT")], "key string, place string")
        (tmp_path / "caches" / "scratch").mkdir()

        assert cli.list_cache_tables(root) == ["elevation_cache",
                                               "geocode_cache"]
        rep = cli.clear_cache(spark, root)
        assert rep == {
            "elevation_cache": {"rows_before": 2, "rows_deleted": 2},
            "geocode_cache": {"rows_before": 1, "rows_deleted": 1},
        }
        assert cli.list_cache_tables(root) == []

    def test_ttl_expiry(self, spark, tmp_path):
        """TTL semantics (PostgresCache.ts:120-124): only rows older than
        now - ttl die; a table without a timestamp column is untouched."""
        root = str(tmp_path / "caches")
        _write_cache(spark, f"{root}/elevation_cache",
                     [("a", 1.0, 1_000), ("b", 2.0, 5_000),
                      ("c", 3.0, 9_000)],
                     "key string, elevation double, timestamp long")
        _write_cache(spark, f"{root}/geocode_cache",
                     [("u0q", "AT")], "key string, place string")
        rep = cli.clear_cache(spark, root, ttl_ms=6_000, now_ms=10_000)
        # cutoff 4000: row a (1000) dies, b (5000) and c (9000) live
        assert rep["elevation_cache"] == {"rows_before": 3,
                                          "rows_deleted": 1}
        assert rep["geocode_cache"] == {"rows_before": 1, "rows_deleted": 0}
        kept = {r.key for r in
                spark.read.parquet(f"{root}/elevation_cache").collect()}
        assert kept == {"b", "c"}

    def test_selected_table_only(self, spark, tmp_path):
        root = str(tmp_path / "caches")
        _write_cache(spark, f"{root}/a_cache", [("k", 1.0)],
                     "key string, v double")
        _write_cache(spark, f"{root}/b_cache", [("k", 1.0)],
                     "key string, v double")
        rep = cli.clear_cache(spark, root, tables=["a_cache"])
        assert set(rep) == {"a_cache"}
        assert cli.list_cache_tables(root) == ["b_cache"]


class TestDebugGeocode:
    def test_remote_probe_injected_client(self):
        seen = {}

        def fake(lat, lon):
            seen["coords"] = (lat, lon)
            return {"iso3166_1": "AT", "iso3166_2": None,
                    "country": "Austria", "region": "Tyrol",
                    "locality": "Innsbruck"}

        out = cli.debug_geocode(47.26, 11.39, fetch_one=fake)
        assert out["source"] == "remote"
        assert out["place"]["country"] == "Austria"
        assert seen["coords"] == (47.26, 11.39)
        # same geohash key the pipeline's cache join uses
        from openskidata_processor_spark.pipeline.enrichment import (
            geohash_encode)
        assert out["key"] == geohash_encode(11.39, 47.26, 6)

    def test_cache_hit_short_circuits(self, spark, tmp_path):
        from openskidata_processor_spark.pipeline.enrichment import (
            geohash_encode)
        key = geohash_encode(11.39, 47.26, 6)
        cache = str(tmp_path / "geocode_cache")
        spark.createDataFrame(
            [(key, ("AT", None, "Austria", "Tyrol", "Innsbruck"))],
            "key string, place struct<iso3166_1:string, iso3166_2:string,"
            " country:string, region:string, locality:string>"
        ).write.parquet(cache)

        def must_not_call(lat, lon):  # pragma: no cover
            raise AssertionError("cache hit must not fetch")

        out = cli.debug_geocode(47.26, 11.39, fetch_one=must_not_call,
                                spark=spark, cache_path=cache)
        assert out["source"] == "cache"
        assert out["place"]["locality"] == "Innsbruck"

    def test_miss_without_client(self):
        out = cli.debug_geocode(47.26, 11.39)
        assert out["source"] == "miss" and out["place"] is None


class TestExtractTiles:
    def _mbtiles(self, path):
        con = sqlite3.connect(path)
        con.execute("CREATE TABLE metadata (name text, value text)")
        con.executemany("INSERT INTO metadata VALUES (?, ?)",
                        [("name", "openskimap"), ("format", "pbf")])
        con.execute("CREATE TABLE tiles (zoom_level integer, "
                    "tile_column integer, tile_row integer, tile_data blob)")
        # TMS rows: z=0 (0,0); z=2 tile (1, tms_row=0) → XYZ y = 3
        con.executemany(
            "INSERT INTO tiles VALUES (?, ?, ?, ?)",
            [(0, 0, 0, b"root-tile"), (2, 1, 0, b"deep-tile")])
        con.commit()
        con.close()

    def test_extract_layout_and_bytes(self, tmp_path):
        mb = str(tmp_path / "map.mbtiles")
        out = str(tmp_path / "tiles_out")
        self._mbtiles(mb)
        rep = cli.extract_tiles(mb, out)
        assert rep["tiles"] == 2 and rep["metadata"]["format"] == "pbf"
        # tile-join directory layout: {z}/{x}/{xyz_y}.pbf, blobs verbatim
        assert open(f"{out}/0/0/0.pbf", "rb").read() == b"root-tile"
        assert open(f"{out}/2/1/3.pbf", "rb").read() == b"deep-tile"
        meta = json.load(open(f"{out}/metadata.json"))
        assert meta == {"name": "openskimap", "format": "pbf"}

    def test_main_subcommand(self, tmp_path, capsys):
        mb = str(tmp_path / "map.mbtiles")
        out = str(tmp_path / "o")
        self._mbtiles(mb)
        assert cli.main(["extract-tiles", mb, out]) == 0
        assert json.loads(capsys.readouterr().out)["tiles"] == 2
        assert os.path.exists(f"{out}/metadata.json")


class TestLandingAndPrepareCLI:
    """download landing-file readers + the prepare/merge-outputs/tiles
    subcommands (src/scripts/download.ts, prepare_geojson.ts,
    cluster_ski_areas.ts, merge_outputs.ts parity)."""

    def _landing(self, tmp_path):
        import json as _json
        d = str(tmp_path / "landing")
        os.makedirs(d, exist_ok=True)
        shared_nodes = [
            {"type": "node", "id": 1, "lat": 47.0, "lon": 11.0},
            {"type": "node", "id": 2, "lat": 47.0, "lon": 11.01},
            {"type": "node", "id": 3, "lat": 47.01, "lon": 11.01},
            {"type": "node", "id": 4, "lat": 47.01, "lon": 11.0},
        ]
        runs = {"version": 0.6, "elements": shared_nodes + [
            {"type": "node", "id": 5, "lat": 47.002, "lon": 11.002},
            {"type": "node", "id": 6, "lat": 47.006, "lon": 11.004},
            {"type": "way", "id": 101, "nodes": [5, 6],
             "tags": {"piste:type": "downhill", "name": "Home Run",
                      "piste:difficulty": "easy"}},
        ]}
        # ski_areas dump repeats the shared nodes — reader must dedupe
        areas = {"version": 0.6, "elements": shared_nodes + [
            {"type": "way", "id": 100, "nodes": [1, 2, 3, 4, 1],
             "tags": {"landuse": "winter_sports", "name": "Test Resort"}},
        ]}
        with open(f"{d}/input_runs.osmjson", "w") as f:
            _json.dump(runs, f)
        with open(f"{d}/input_ski_areas.osmjson", "w") as f:
            _json.dump(areas, f)
        with open(f"{d}/input_skimap_ski_areas.geojson", "w") as f:
            _json.dump({"type": "FeatureCollection", "features": [
                {"type": "Feature",
                 "properties": {"id": "sk1", "name": "Skimap Resort",
                                "status": "operating",
                                "activities": ["downhill"],
                                "scalerank": 1,
                                "official_website": "https://example.com"},
                 "geometry": {"type": "Point",
                              "coordinates": [13.0, 46.0]}}]}, f)
        return d

    def test_read_osm_elements_dedupes_shared(self, spark, tmp_path):
        from openskidata_processor_spark.sources.landing import \
            read_osm_elements
        d = self._landing(tmp_path)
        els = read_osm_elements(spark, d)
        nodes = els.filter("type = 'node'").collect()
        assert len(nodes) == 6  # 4 shared (deduped) + 2 run nodes
        assert els.filter("type = 'way'").count() == 2

    def test_read_skimap_areas(self, spark, tmp_path):
        from openskidata_processor_spark.sources.landing import \
            read_skimap_areas
        d = self._landing(tmp_path)
        rows = read_skimap_areas(
            spark, f"{d}/input_skimap_ski_areas.geojson").collect()
        assert len(rows) == 1
        assert rows[0].name == "Skimap Resort"
        assert json.loads(rows[0].geometry) == {
            "coordinates": [13.0, 46.0], "type": "Point"}
        # missing file → empty frame, pipeline runs OSM-only
        empty = read_skimap_areas(spark, f"{d}/nope.geojson")
        assert empty.count() == 0

    def test_prepare_subcommand_end_to_end(self, spark, tmp_path, capsys):
        d = self._landing(tmp_path)
        out = str(tmp_path / "out")
        assert cli.main(["prepare", d, out]) == 0
        counts = json.loads(capsys.readouterr().out)
        assert counts["runs"] == 1
        assert counts["ski_areas"] >= 2  # OSM resort + Skimap resort
        assert os.path.exists(f"{out}/runs.geojson")
        assert os.path.exists(f"{out}/openskidata.gpkg")
        fc = json.load(open(f"{out}/ski_areas.geojson"))
        names = {f["properties"]["name"] for f in fc["features"]}
        assert {"Test Resort", "Skimap Resort"} <= names

    def test_merge_outputs_subcommand(self, tmp_path, capsys):
        a, b, out = (str(tmp_path / n) for n in ("a", "b", "merged"))
        for d in (a, b):
            os.makedirs(d)
            with open(f"{d}/runs.geojson", "w") as f:
                json.dump({"type": "FeatureCollection", "features": [
                    {"type": "Feature", "properties": {"id": d[-1]},
                     "geometry": {"type": "Point",
                                  "coordinates": [0, 0]}}]}, f)
        assert cli.main(["merge-outputs", out, a, b]) == 0
        rep = json.loads(capsys.readouterr().out)
        assert rep["geojson"] >= 1
        fc = json.load(open(f"{out}/runs.geojson"))
        assert len(fc["features"]) == 2

    def test_download_wiring(self, monkeypatch, capsys):
        calls = {}

        def fake_download_all(landing_dir, bbox=None, endpoint=None):
            calls["args"] = (landing_dir, bbox, endpoint)
            return {"runs": f"{landing_dir}/input_runs.osmjson"}

        import openskidata_processor_spark.sources.download as dl
        monkeypatch.setattr(dl, "download_all", fake_download_all)
        assert cli.main(["download", "/tmp/landing", "--bbox", "45", "5",
                         "48", "12"]) == 0
        assert calls["args"] == ("/tmp/landing", (45.0, 5.0, 48.0, 12.0),
                                 "https://overpass-api.de/api/interpreter")
        assert "input_runs" in capsys.readouterr().out

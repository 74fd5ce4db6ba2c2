"""Oracle-checked catalog queries for the §2.8 raster/tile kernel.

The geometry kernel's *projection math* — Web-Mercator tile/pixel
(``TileCoordinates.ts:30-55``), sinusoidal VIIRS pixel addressing
(``VIIRSPixelExtractor.ts:30-110``), Terrain-RGB / Terrarium decode
(``ElevationDecoder.ts:7-27``) — is pure arithmetic, so unlike the UDF-side
geometry it can be DuckDB-oracle-verified end to end.  Each query derives
deterministic coordinates/channels from integer keys (exact doubles on both
engines) and evaluates the projection as Catalyst column expressions inside
whole-stage codegen; the oracle mirrors the exact floating-point operation
sequence.

These queries double as the scale statement for the producers in
``sources/terrain.py`` / ``sources/snow.py``: the tile-id computation that
partitions their fetch stages is THIS math, shown here to run JVM-side over
the whole table with no Python in the loop.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openskidata_processor_spark.pipeline.enrichment import (
    GLOBAL_HALF_HEIGHT, GLOBAL_HALF_WIDTH, PIXELS_PER_TILE, PIXEL_SIZE_M,
    SPHERE_RADIUS_M, TILE_SIZE_M, decode_terrain_rgb, decode_terrarium,
    mercator_tile, viirs_pixel)

from .analytics import _t, query
from .oracles import ORACLES

# ---------------------------------------------------------------------------
# R1 — Web-Mercator tile assignment at zoom 8 (TileCoordinates.ts:30-55)
# ---------------------------------------------------------------------------

_ZOOM = 8


@query("r1_mercator_tiles")
def r1_mercator_tiles(spark, sf_dir):
    """Per-part synthetic coordinate → (tile_x, tile_y, pixel) at zoom 8,
    entirely as Catalyst expressions (fully codegen'd; the plan is a
    project over the parquet scan — zero shuffles, zero Python)."""
    part = _t(spark, sf_dir, "part")
    lon = (F.col("p_partkey") % 3600) / F.lit(10.0) - F.lit(180.0)
    lat = ((F.col("p_partkey") * 7) % 1600) / F.lit(10.0) - F.lit(80.0)
    t = mercator_tile(lon, lat, _ZOOM)
    return part.select(
        "p_partkey",
        t["tile_x"].alias("tile_x"), t["tile_y"].alias("tile_y"),
        t["pixel_x"].alias("pixel_x"), t["pixel_y"].alias("pixel_y"))


ORACLES["r1_mercator_tiles"] = f"""
WITH pts AS (
  SELECT p_partkey,
         (p_partkey % 3600) / 10.0 - 180.0 AS lon,
         ((p_partkey * 7) % 1600) / 10.0 - 80.0 AS lat
  FROM part),
w AS (
  SELECT p_partkey,
         (lon + 180.0) / 360.0 * {float(2 ** _ZOOM)} AS xf,
         (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
           / 2.0 * {float(2 ** _ZOOM)} AS yf
  FROM pts)
SELECT p_partkey,
       CAST(floor(xf) AS INT) AS tile_x,
       CAST(floor(yf) AS INT) AS tile_y,
       CAST(floor((xf - floor(xf)) * 256) AS INT) AS pixel_x,
       CAST(floor((yf - floor(yf)) * 256) AS INT) AS pixel_y
FROM w
"""


# ---------------------------------------------------------------------------
# R2 — sinusoidal VIIRS pixel rollup (VIIRSPixelExtractor.ts:30-110)
# ---------------------------------------------------------------------------

@query("r2_viirs_pixel_rollup")
def r2_viirs_pixel_rollup(spark, sf_dir):
    """Synthetic points → sinusoidal (hTile, vTile, col, row), rolled up
    per tile — the exact partitioning key the snow-cover producer
    (``sources/snow.py``) batches its HDF fetches by."""
    part = _t(spark, sf_dir, "part")
    lon = (F.col("p_partkey") % 3600) / F.lit(10.0) - F.lit(180.0)
    lat = ((F.col("p_partkey") * 7) % 1600) / F.lit(10.0) - F.lit(80.0)
    p = viirs_pixel(lon, lat)
    return (part.select(p[0].alias("h"), p[1].alias("v"),
                        p[2].alias("col"), p[3].alias("row"))
            .groupBy("h", "v")
            .agg(F.count("*").alias("n_pixels"),
                 F.min("col").alias("min_col"),
                 F.max("row").alias("max_row")))


ORACLES["r2_viirs_pixel_rollup"] = f"""
WITH pts AS (
  SELECT (p_partkey % 3600) / 10.0 - 180.0 AS lon,
         ((p_partkey * 7) % 1600) / 10.0 - 80.0 AS lat
  FROM part),
xy AS (
  SELECT {SPHERE_RADIUS_M!r} * radians(lon) * cos(radians(lat)) AS x,
         {SPHERE_RADIUS_M!r} * radians(lat) AS y
  FROM pts),
px AS (
  SELECT CAST(greatest(0, least(35,
           floor((x + {GLOBAL_HALF_WIDTH!r}) / {TILE_SIZE_M!r}))) AS INT) AS h,
         CAST(greatest(0, least(17,
           floor(({GLOBAL_HALF_HEIGHT!r} - y) / {TILE_SIZE_M!r}))) AS INT) AS v,
         x, y
  FROM xy),
cr AS (
  SELECT h, v,
         CAST(greatest(0, least({PIXELS_PER_TILE - 1},
           floor((x - (CAST(h AS DOUBLE) * {TILE_SIZE_M!r}
                       - {GLOBAL_HALF_WIDTH!r})) / {PIXEL_SIZE_M!r})))
           AS INT) AS col,
         CAST(greatest(0, least({PIXELS_PER_TILE - 1},
           floor((({GLOBAL_HALF_HEIGHT!r}
                   - CAST(v AS DOUBLE) * {TILE_SIZE_M!r}) - y)
                 / {PIXEL_SIZE_M!r})))
           AS INT) AS row
  FROM px)
SELECT h, v, count(*) AS n_pixels,
       min(col) AS min_col, max(row) AS max_row
FROM cr GROUP BY h, v
"""


# ---------------------------------------------------------------------------
# R3 — Terrain-RGB / Terrarium decode (ElevationDecoder.ts:7-27)
# ---------------------------------------------------------------------------

@query("r3_terrain_decode")
def r3_terrain_decode(spark, sf_dir):
    """Channel triples derived from keys → both elevation encodings,
    per-row (no float aggregation → bit-exact across engines)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    r = (F.col("p_partkey") % 256).cast("int")
    g = ((F.col("p_partkey") * 7) % 256).cast("int")
    b = ((F.col("p_partkey") * 13) % 256).cast("int")
    return part.select(
        "p_partkey",
        decode_terrain_rgb(r, g, b).alias("elev_mapbox"),
        decode_terrarium(r, g, b).alias("elev_terrarium"))


ORACLES["r3_terrain_decode"] = """
WITH ch AS (
  SELECT p_partkey,
         CAST(p_partkey % 256 AS INT) AS r,
         CAST((p_partkey * 7) % 256 AS INT) AS g,
         CAST((p_partkey * 13) % 256 AS INT) AS b
  FROM part WHERE p_size >= 25)
SELECT p_partkey,
       -- CAST: DuckDB parses the bare literal 0.1 as DECIMAL (exact
       -- arithmetic); Spark's lit(0.1) is a double — match its IEEE path
       -10000.0 + (r * 65536 + g * 256 + b) * CAST(0.1 AS DOUBLE)
         AS elev_mapbox,
       r * 256 + g + b / 256.0 - 32768.0 AS elev_terrarium
FROM ch
"""


# ---------------------------------------------------------------------------
# R4 — the full rasterizer path over Point geometries
# (VIIRSPixelExtractor.ts:258-338 via pipeline.enrichment.geometry_viirs_pixels)
# ---------------------------------------------------------------------------

@query("r4_viirs_rasterize_points")
def r4_viirs_rasterize_points(spark, sf_dir):
    """Point features through the geometry RASTERIZER (JSON parse →
    sinusoidal transform → bbox scan → pixel-square intersection), rolled
    up per tile.  For a point strictly inside a pixel the rasterizer must
    emit exactly that pixel, so the floor-math oracle is exact.  The
    0.0123/0.0071 offsets keep every synthetic point off pixel-boundary
    coordinates (e.g. lat 0.0 lies exactly on the v=8/9 tile edge, where
    square-touch semantics would return both neighbors)."""
    from openskidata_processor_spark.pipeline.enrichment import geometry_viirs_pixels

    part = _t(spark, sf_dir, "part")
    lon = (F.col("p_partkey") % 3600) / F.lit(10.0) - F.lit(180.0) \
        + F.lit(0.0123)
    lat = ((F.col("p_partkey") * 7) % 1600) / F.lit(10.0) - F.lit(80.0) \
        + F.lit(0.0071)
    geom = F.concat(F.lit('{"coordinates":['), lon.cast("string"),
                    F.lit(","), lat.cast("string"),
                    F.lit('],"type":"Point"}'))
    px = F.explode(geometry_viirs_pixels(geom)).alias("px")
    return (part.select(px)
            .select(F.col("px")[0].cast("int").alias("h"),
                    F.col("px")[1].cast("int").alias("v"),
                    F.col("px")[2].cast("int").alias("col"),
                    F.col("px")[3].cast("int").alias("row"))
            .groupBy("h", "v")
            .agg(F.count("*").alias("n_pixels"),
                 F.min("col").alias("min_col"),
                 F.max("row").alias("max_row")))


ORACLES["r4_viirs_rasterize_points"] = f"""
WITH pts AS (
  SELECT (p_partkey % 3600) / 10.0 - 180.0 + 0.0123 AS lon,
         ((p_partkey * 7) % 1600) / 10.0 - 80.0 + 0.0071 AS lat
  FROM part),
xy AS (
  SELECT {SPHERE_RADIUS_M!r} * radians(lon) * cos(radians(lat)) AS x,
         {SPHERE_RADIUS_M!r} * radians(lat) AS y
  FROM pts),
px AS (
  SELECT CAST(greatest(0, least(35,
           floor((x + {GLOBAL_HALF_WIDTH!r}) / {TILE_SIZE_M!r}))) AS INT) AS h,
         CAST(greatest(0, least(17,
           floor(({GLOBAL_HALF_HEIGHT!r} - y) / {TILE_SIZE_M!r}))) AS INT) AS v,
         x, y
  FROM xy),
cr AS (
  SELECT h, v,
         CAST(greatest(0, least({PIXELS_PER_TILE - 1},
           floor((x - (CAST(h AS DOUBLE) * {TILE_SIZE_M!r}
                       - {GLOBAL_HALF_WIDTH!r})) / {PIXEL_SIZE_M!r})))
           AS INT) AS col,
         CAST(greatest(0, least({PIXELS_PER_TILE - 1},
           floor((({GLOBAL_HALF_HEIGHT!r}
                   - CAST(v AS DOUBLE) * {TILE_SIZE_M!r}) - y)
                 / {PIXEL_SIZE_M!r})))
           AS INT) AS row
  FROM px)
SELECT h, v, count(*) AS n_pixels,
       min(col) AS min_col, max(row) AS max_row
FROM cr GROUP BY h, v
"""

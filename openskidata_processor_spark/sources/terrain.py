"""Terrain-tile elevation producer: build elevation cache rows from
Terrain-RGB raster tiles.

The engine's elevation *join* (``pipeline.enrichment.add_elevation``)
consumes a ``(geohash, elevation)`` cache; the reference populates that
cache from Web-Mercator raster tiles
(``src/transforms/elevation/TerrainTileElevationSource.ts:56-216`` —
lonLat→tile/pixel, 4-corner bilinear interpolation with cross-tile
boundary handling, multi-zoom fallback, bounded tile fetch concurrency,
``TileDiskCache`` for fetched PNGs).  This module is that producer as a
Spark stage:

- the miss set (geohash keys) gains a primary-tile column and
  repartitions on it, so every point needing a given tile lands in one
  task and each tile is fetched once per run (spatial locality IS the
  dedup — at 100 TB the fetch count is bounded by unique tiles, not
  points);
- per task, unique (z, x, y) tiles resolve through an in-memory dict +
  optional on-disk PNG cache (the ``TileDiskCache`` analogue; a 404 is
  remembered as "missing" so it is never re-fetched);
- PNG decode is a dependency-free implementation for 8-bit RGB/RGBA
  non-interlaced tiles (zlib + numpy scanline un-filtering) — no image
  library needed in the container;
- per point, zooms are tried in order; a point whose 4 corners all
  decode yields a bilinear elevation, a point missing tiles at every
  zoom yields a null elevation row ("no data here" is cached,
  Elevation.ts:218), and a point whose tile *fetch errored* yields NO
  row — errors are never cached and surface as misses next run.

The Catalyst column-expression twins of the per-pixel math live in
``pipeline.enrichment`` (``mercator_tile``/``decode_terrain_rgb``); this
module holds the Python mirrors used inside the Arrow-batched stage.
"""

from __future__ import annotations

import math
import os
import struct
import zlib
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fetch import geohash_decode

# (z, x, y) -> PNG bytes, or None for a 404 ("no tile here").
FetchTile = Callable[[int, int, int], "bytes | None"]

# -- PNG decode (stdlib zlib + numpy; 8-bit RGB/RGBA, non-interlaced) -------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png_rgb(data: bytes) -> np.ndarray:
    """Decode a PNG to an (h, w, 3) uint8 array.

    Supports the tile formats terrain servers actually emit: 8-bit
    truecolor (RGB/RGBA), non-interlaced.  Implements the five standard
    scanline filters (None/Sub/Up/Average/Paeth) per the public PNG spec.
    """
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, width, height, bit_depth, color_type, interlace = 8, 0, 0, 0, 0, 0
    idat = bytearray()
    while pos < len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = \
                struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.extend(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace}); terrain tiles are 8-bit RGB(A)")
    nch = 3 if color_type == 2 else 4
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, lines = arr[:, 0], arr[:, 1:].astype(np.int16)
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f, cur = filters[y], lines[y].copy()
        prev = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:
            out[y] = cur
        elif f == 2:  # Up
            out[y] = (cur + prev) & 0xFF
        else:  # Sub/Average/Paeth scan left-to-right with carried state
            line = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                if f == 1:
                    rec = cur[i] + a
                elif f == 3:
                    rec = cur[i] + (a + b) // 2
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    rec = cur[i] + pred
                else:
                    raise ValueError(f"bad PNG filter {f}")
                line[i] = rec & 0xFF
            out[y] = line
    return out.reshape(height, width, nch)[:, :, :3]


# -- Web-Mercator tile math (TileCoordinates.ts:30-126, Python mirror) ------

def lonlat_to_tile_pixel(lon: float, lat: float, zoom: int,
                         tile_size: int) -> tuple[int, int, float, float]:
    """(tileX, tileY, fractional pixelX, pixelY); latitude clamped via
    siny ∈ [-0.9999, 0.9999] exactly as the reference."""
    siny = min(max(math.sin(lat * math.pi / 180.0), -0.9999), 0.9999)
    x_world = tile_size * (0.5 + lon / 360.0)
    y_world = tile_size * (
        0.5 - math.log((1 + siny) / (1 - siny)) / (4 * math.pi))
    scale = 1 << zoom
    tile_x = math.floor(x_world * scale / tile_size)
    tile_y = math.floor(y_world * scale / tile_size)
    return (tile_x, tile_y,
            x_world * scale - tile_x * tile_size,
            y_world * scale - tile_y * tile_size)


def interpolation_setup(tile_x: int, tile_y: int, px: float, py: float,
                        zoom: int, tile_size: int):
    """4 bilinear corners resolved across tile boundaries
    (TileCoordinates.ts:62-126): x wraps around the antimeridian, y
    returns None at the world's vertical edge."""
    x0, y0 = math.floor(px), math.floor(py)
    fx, fy = px - x0, py - y0
    n = 1 << zoom
    corners = []
    for cpx, cpy in ((x0, y0), (x0 + 1, y0), (x0, y0 + 1), (x0 + 1, y0 + 1)):
        cx, cy, lx, ly = tile_x, tile_y, cpx, cpy
        if lx >= tile_size:
            lx, cx = 0, (cx + 1) % n
        elif lx < 0:
            lx, cx = tile_size - 1, (cx - 1 + n) % n
        if ly >= tile_size:
            ly, cy = 0, cy + 1
        elif ly < 0:
            ly, cy = tile_size - 1, cy - 1
        if cy < 0 or cy >= n:
            return None
        corners.append((cx, cy, lx, ly))
    return corners, fx, fy


def decode_elevation(r: int, g: int, b: int, encoding: str) -> float:
    """ElevationDecoder.ts:7-27 — mapbox / terrarium formulas."""
    if encoding == "mapbox":
        return -10000.0 + (r * 65536 + g * 256 + b) * 0.1
    if encoding == "terrarium":
        return r * 256 + g + b / 256.0 - 32768.0
    raise ValueError(f"unknown encoding {encoding!r}")


def bilinear(e00: float, e10: float, e01: float, e11: float,
             fx: float, fy: float) -> float:
    top = e00 * (1 - fx) + e10 * fx
    bottom = e01 * (1 - fx) + e11 * fx
    return top * (1 - fy) + bottom * fy


# -- the Spark stage --------------------------------------------------------

class _TileStore:
    """Per-task tile resolver: memory dict → optional disk cache → fetch.

    Values: np.ndarray (decoded), None (known-missing/404), or the
    sentinel ``_ERROR`` (fetch raised — never cached, TileDiskCache
    remembers only tiles and 404s)."""
    _ERROR = "error"

    def __init__(self, fetch_tile: FetchTile, cache_dir: str | None):
        self.fetch_tile = fetch_tile
        self.cache_dir = cache_dir
        self.mem: dict[tuple[int, int, int], object] = {}

    def _disk_paths(self, z: int, x: int, y: int) -> tuple[str, str]:
        base = os.path.join(self.cache_dir, f"{z}_{x}_{y}")
        return base + ".png", base + ".missing"

    def get(self, z: int, x: int, y: int):
        key = (z, x, y)
        if key in self.mem:
            return self.mem[key]
        png: bytes | None = None
        hit = False
        if self.cache_dir:
            ppath, mpath = self._disk_paths(z, x, y)
            if os.path.exists(mpath):
                self.mem[key] = None
                return None
            if os.path.exists(ppath):
                with open(ppath, "rb") as f:
                    png = f.read()
                hit = True
        if not hit:
            try:
                png = self.fetch_tile(z, x, y)
            except Exception:
                self.mem[key] = self._ERROR
                return self._ERROR
            if self.cache_dir:
                os.makedirs(self.cache_dir, exist_ok=True)
                ppath, mpath = self._disk_paths(z, x, y)
                if png is None:
                    open(mpath, "wb").close()
                else:
                    with open(ppath, "wb") as f:
                        f.write(png)
        if png is None:
            self.mem[key] = None
            return None
        try:
            val = decode_png_rgb(png)
        except Exception:
            # Corrupt/truncated bytes (bad server response, or a
            # partially-written disk-cache file from a crashed task) must
            # surface as a per-point miss, not fail the stage — and a bad
            # cache file must not poison every subsequent run: delete it
            # so the next run refetches.
            if hit and self.cache_dir:
                ppath, _ = self._disk_paths(z, x, y)
                try:
                    os.remove(ppath)
                except OSError:
                    pass
            self.mem[key] = self._ERROR
            return self._ERROR
        self.mem[key] = val
        return val


def fetch_elevation_tiles(misses: DataFrame, fetch_tile: FetchTile,
                          zooms: list[int] | None = None,
                          encoding: str = "mapbox",
                          tile_size: int = 256,
                          cache_dir: str | None = None,
                          key_col: str = "key") -> DataFrame:
    """(key geohash) miss set → (key, elevation) cache rows from raster
    tiles — the TerrainTileElevationSource.fetchElevations loop
    (``TerrainTileElevationSource.ts:56-216``) as one Arrow-batched stage.

    Rows: elevation double for resolved points, null for points with no
    tile data at any zoom (cached as knowledge); fetch-errored points
    emit nothing.  Partitioning: by the coarsest-zoom tile id, so each
    tile is pulled once per run regardless of how many points need it.
    """
    zooms = zooms or [12, 11, 10]
    spark = misses.sparkSession
    n_part = spark.sparkContext.defaultParallelism

    def run(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        store = _TileStore(fetch_tile, cache_dir)
        for pdf in parts:
            keys, elevs = [], []
            for k in pdf[key_col]:
                lat, lon = geohash_decode(k)
                value, errored = None, False
                for zoom in zooms:
                    tx, ty, px, py = lonlat_to_tile_pixel(
                        lon, lat, zoom, tile_size)
                    setup = interpolation_setup(tx, ty, px, py, zoom,
                                                tile_size)
                    if setup is None:
                        continue  # world edge: stays null, next zoom
                    corners, fx, fy = setup
                    tiles = [store.get(zoom, cx, cy)
                             for cx, cy, _, _ in corners]
                    if any(t is _TileStore._ERROR for t in tiles):
                        errored = True
                        break  # never cache errors
                    if any(t is None for t in tiles):
                        continue  # 404 at this zoom: try the next
                    es = [decode_elevation(*t[ly, lx], encoding)
                          for t, (_, _, lx, ly) in zip(tiles, corners)]
                    value = es[0] if fx == 0 and fy == 0 else \
                        bilinear(es[0], es[1], es[2], es[3], fx, fy)
                    break
                if not errored:
                    keys.append(k)
                    elevs.append(value)
            if keys:
                yield pd.DataFrame({"key": keys, "elevation": elevs})

    # Co-locate points by their coarsest-zoom tile: the repartition key is
    # computed from the geohash prefix (cheap, JVM-side via a substring —
    # geohash prefixes ARE spatial buckets), bounding per-tile fetches.
    bucketed = misses.repartition(n_part, F.substring(F.col(key_col), 1, 4))
    return bucketed.mapInPandas(run, "key string, elevation double")

"""Operational entry points — parity with the reference's ``src/scripts/``
surface (``clear_cache.ts``, ``debug_geocode.ts``, ``extract_tiles.ts``,
``download.ts``, ``prepare_geojson.ts``, ``cluster_ski_areas.ts``,
``merge_outputs.ts``).  A user migrating from the reference finds the
same tools, re-expressed over this engine's substrate:

- **clear_cache** — the reference deletes rows from the Postgres
  ``{prefix}*_cache`` tables after a per-table prompt
  (``clear_cache.ts``); here cache tables are keyed Parquet directories
  (``*_cache``) under a cache root, so clearing is a directory delete,
  and TTL expiry (``PostgresCache.ts:120-124`` — rows older than the TTL
  are dead) is a filtered rewrite.
- **debug_geocode** — single-point probe through the SAME client + cache
  path the pipeline uses (``debug_geocode.ts`` → ``Geocoder.rawGeocode``):
  geohash key, cache lookup, then the photon client for a live answer.
- **extract_tiles** — the reference shells out to ``tile-join
  --output-to-directory`` (``extract_tiles.ts:11-16``); MBTiles is just
  a SQLite db of (z, x, tms_y, blob), so this engine extracts natively
  with stdlib ``sqlite3`` — same ``{z}/{x}/{y}.pbf`` layout plus
  ``metadata.json``, no external binary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sqlite3
import time


# ---------------------------------------------------------------------------
# clear_cache
# ---------------------------------------------------------------------------

def list_cache_tables(root: str) -> list[str]:
    """``*_cache`` table directories under the cache root, sorted — the
    analogue of the reference's ``pg_tables LIKE '{prefix}%_cache'``
    discovery (``clear_cache.ts:23-40``)."""
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root)
                  if d.endswith("_cache")
                  and os.path.isdir(os.path.join(root, d)))


def clear_cache(spark, root: str, tables: list[str] | None = None,
                ttl_ms: int | None = None, now_ms: int | None = None,
                ts_col: str = "timestamp") -> dict[str, dict]:
    """Clear cache tables under ``root``; returns per-table
    ``{rows_before, rows_deleted}``.

    ``ttl_ms=None`` → full clear (the reference script's DELETE FROM).
    With a TTL, only rows whose ``ts_col`` is older than ``now - ttl``
    are deleted (``PostgresCache.ts:120-124`` expiry, applied as a
    filtered Parquet rewrite); a table without a timestamp column is
    left untouched under a TTL (no row is provably expired).
    """
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    report: dict[str, dict] = {}
    for name in tables or list_cache_tables(root):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            report[name] = {"rows_before": 0, "rows_deleted": 0}
            continue
        df = spark.read.parquet(path)
        before = df.count()
        if ttl_ms is None:
            shutil.rmtree(path)
            report[name] = {"rows_before": before, "rows_deleted": before}
            continue
        if ts_col not in df.columns:
            report[name] = {"rows_before": before, "rows_deleted": 0}
            continue
        from pyspark.sql import functions as F
        kept = df.filter(F.col(ts_col) >= F.lit(now_ms - ttl_ms))
        tmp = path + ".rewrite.tmp"
        kept.write.mode("overwrite").parquet(tmp)
        n_kept = spark.read.parquet(tmp).count()
        shutil.rmtree(path)
        os.replace(tmp, path)
        report[name] = {"rows_before": before,
                        "rows_deleted": before - n_kept}
    return report


# ---------------------------------------------------------------------------
# debug_geocode
# ---------------------------------------------------------------------------

def debug_geocode(lat: float, lon: float, url: str | None = None,
                  fetch_one=None, spark=None,
                  cache_path: str | None = None,
                  precision: int = 6) -> dict:
    """Single-point reverse-geocode probe through the pipeline's own path
    (``debug_geocode.ts`` → ``Geocoder.rawGeocode``): geohash key first,
    cache hit if a cache table is supplied, live photon fetch otherwise.

    Returns ``{key, latitude, longitude, source, place, date}`` where
    ``source`` is ``cache`` / ``remote`` / ``miss``.  ``fetch_one``
    injects a client for tests; ``url`` builds the real photon client
    (``sources.fetch.photon_fetcher``).
    """
    from .pipeline.enrichment import geohash_encode
    from .sources.fetch import photon_fetcher

    key = geohash_encode(lon, lat, precision)
    out = {"key": key, "latitude": lat, "longitude": lon,
           "source": "miss", "place": None,
           "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    if spark is not None and cache_path and os.path.exists(cache_path):
        from pyspark.sql import functions as F
        hit = (spark.read.parquet(cache_path)
               .filter(F.col("key") == key).limit(1).collect())
        if hit:
            row = hit[0].asDict()
            place = row.get("place")
            out["source"] = "cache"
            out["place"] = (place.asDict() if hasattr(place, "asDict")
                            else place)
            return out
    if fetch_one is None and url:
        fetch_one = photon_fetcher(url)
    if fetch_one is not None:
        out["source"] = "remote"
        out["place"] = fetch_one(lat, lon)
    return out


# ---------------------------------------------------------------------------
# extract_tiles
# ---------------------------------------------------------------------------

def extract_tiles(mbtiles_path: str, out_dir: str) -> dict:
    """Extract an MBTiles archive to a ``{z}/{x}/{y}.pbf`` directory tree
    plus ``metadata.json`` — the exact output layout of the reference's
    ``tile-join --no-tile-size-limit --output-to-directory``
    (``extract_tiles.ts:11-16``), implemented natively over the MBTiles
    SQLite schema (``tiles(zoom_level, tile_column, tile_row,
    tile_data)`` with TMS row numbering → XYZ via ``2^z - 1 - row``;
    tile blobs copied verbatim, gzip preserved)."""
    con = sqlite3.connect(mbtiles_path)
    try:
        meta = dict(con.execute("SELECT name, value FROM metadata"))
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "metadata.json"), "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
        n = 0
        cur = con.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles")
        for z, x, tms_y, blob in cur:
            y = (1 << z) - 1 - tms_y
            d = os.path.join(out_dir, str(z), str(x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{y}.pbf"), "wb") as f:
                f.write(blob)
            n += 1
    finally:
        con.close()
    return {"tiles": n, "metadata": meta}


# ---------------------------------------------------------------------------
# prepare / download / merge-outputs / tiles (the pipeline entry scripts)
# ---------------------------------------------------------------------------

def run_prepare(spark, landing_dir: str, out_dir: str,
                checkpoint_dir: str | None = None,
                geopackage: bool = True,
                reference_shape: bool = False) -> dict:
    """``prepare_geojson.ts`` + ``cluster_ski_areas.ts`` in one command:
    landing files → assembled elements → formatted/normalized/clustered
    layers → every sink format under ``out_dir``.  (The reference splits
    prepare and cluster only because its accumulator pipeline streams
    through an intermediate file set; one Spark DAG subsumes both.)"""
    from .pipeline.prepare import prepare_from_elements, write_outputs
    from .sources.landing import read_osm_elements, read_skimap_areas

    elements = read_osm_elements(spark, landing_dir)
    skimap = read_skimap_areas(
        spark, os.path.join(landing_dir, "input_skimap_ski_areas.geojson"))
    layers = prepare_from_elements(spark, elements, skimap,
                                   checkpoint_dir=checkpoint_dir)
    counts = write_outputs(layers, out_dir, geopackage=geopackage,
                           reference_shape=reference_shape)
    return {name: counts[name] for name in layers}


# ---------------------------------------------------------------------------
# argv entry point
# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="openskidata-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("clear-cache", help="clear/expire *_cache tables")
    c.add_argument("root")
    c.add_argument("--table", action="append", default=None)
    c.add_argument("--ttl-ms", type=int, default=None,
                   help="delete only rows older than now - TTL")

    g = sub.add_parser("debug-geocode", help="single-point geocode probe")
    g.add_argument("latitude", type=float)
    g.add_argument("longitude", type=float)
    g.add_argument("--url",
                   default=os.environ.get("GEOCODING_SERVER_URL"))
    g.add_argument("--cache", default=None)

    t = sub.add_parser("extract-tiles", help="mbtiles → tile directory")
    t.add_argument("mbtiles")
    t.add_argument("out_dir")

    d = sub.add_parser("download",
                       help="fetch Overpass + Skimap.org landing files")
    d.add_argument("landing_dir")
    d.add_argument("--bbox", nargs=4, type=float, default=None,
                   metavar=("S", "W", "N", "E"))
    d.add_argument("--endpoint",
                   default="https://overpass-api.de/api/interpreter")

    pr = sub.add_parser("prepare",
                        help="landing files → all output formats")
    pr.add_argument("landing_dir")
    pr.add_argument("out_dir")
    pr.add_argument("--checkpoint-dir", default=None)
    pr.add_argument("--no-geopackage", action="store_true")
    pr.add_argument("--reference-shape", action="store_true",
                    help="write the reference's exported property contract")

    m = sub.add_parser("merge-outputs",
                       help="merge output dirs (geojson/csv/gpkg/mbtiles)")
    m.add_argument("output_dir")
    m.add_argument("input_dirs", nargs="+")

    ti = sub.add_parser("tiles", help="run tippecanoe/tile-join over outputs")
    ti.add_argument("out_dir")

    args = p.parse_args(argv)
    if args.cmd == "extract-tiles":
        print(json.dumps(extract_tiles(args.mbtiles, args.out_dir)))
        return 0
    if args.cmd == "debug-geocode":
        if not args.url:
            p.error("debug-geocode needs --url or GEOCODING_SERVER_URL")
        from .session import get_spark
        spark = get_spark("debug-geocode") if args.cache else None
        print(json.dumps(debug_geocode(
            args.latitude, args.longitude, url=args.url, spark=spark,
            cache_path=args.cache), indent=2))
        return 0
    if args.cmd == "clear-cache":
        from .session import get_spark
        rep = clear_cache(get_spark("clear-cache"), args.root,
                          tables=args.table, ttl_ms=args.ttl_ms)
        print(json.dumps(rep, indent=2))
        return 0
    if args.cmd == "download":
        from .sources.download import download_all
        bbox = tuple(args.bbox) if args.bbox else None
        out = download_all(args.landing_dir, bbox=bbox,
                           endpoint=args.endpoint)
        print(json.dumps(out, indent=2))
        return 0
    if args.cmd == "prepare":
        from .session import get_spark
        counts = run_prepare(get_spark("prepare"), args.landing_dir,
                             args.out_dir,
                             checkpoint_dir=args.checkpoint_dir,
                             geopackage=not args.no_geopackage,
                             reference_shape=args.reference_shape)
        print(json.dumps(counts, indent=2))
        return 0
    if args.cmd == "merge-outputs":
        from .sinks.merge import merge_outputs
        print(json.dumps(merge_outputs(args.input_dirs, args.output_dir),
                         indent=2))
        return 0
    if args.cmd == "tiles":
        from .sinks.merge import generate_tiles
        print(json.dumps(generate_tiles(args.out_dir)))
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())

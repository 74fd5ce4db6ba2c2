"""K3 — GeoPackage sink (src/io/GeoPackageWriter.ts:154-548), built on
stdlib sqlite3 against the published OGC GeoPackage 1.2 spec (no gpkg
library in this container).

Like the reference (a single-node library fed by streamed features), this
is a driver-side export: ``GeoPackage.layer`` is a sink of the layer's one
id-ordered fetch (``sinks.export``) — the typed columns of ``gpkg_columns``
and the geometry — and the rows insert in one transaction with the
reference's WAL bulk pragmas (GeoPackageWriter.ts:495-512).  fids follow
the id order (O1), so the file's contents do not depend on partition
layout.

Reference behaviors reproduced (GeoPackageWriter.unit.test.ts):
- features are grouped by geometry type into separate tables named
  ``<layer>_<geometrytype>`` (:559-585);
- Polygon features are upgraded to MultiPolygon — a ``_multipolygon``
  table is created, never ``_polygon`` (:566-569, :683-690);
- ski areas additionally export centroid points into ``<layer>_point``,
  with Point originals excluded from the second pass (:534-557);
- typed per-feature-type column schemas (feature_id / name / status /
  sources / websites / wikidata_id + ";"-joined sorted-unique place
  roll-ups + type-specific columns, :54-466), with ``skiAreas``
  flattened into ``ski_area_ids`` / ``ski_area_names`` (:246-258);
- bounding boxes recorded in gpkg_contents (:634-648).

Geometry encodes as the GPKG binary header (magic "GP", version, flags,
srs_id 4326) + little-endian WKB — implemented from the public WKB spec.
"""

from __future__ import annotations

import json
import os
import sqlite3
import struct
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import centroid as geom_centroid
from .csv import place_values
from .export import SkiAreaRefs, write_layer

_WKB_TYPE = {"Point": 1, "LineString": 2, "Polygon": 3,
             "MultiPoint": 4, "MultiLineString": 5, "MultiPolygon": 6,
             "GeometryCollection": 7}


def _wkb(geom: dict[str, Any]) -> bytes:
    t = geom["type"]
    code = _WKB_TYPE[t]
    out = [struct.pack("<BI", 1, code)]  # little endian + type

    def pt(p):
        return struct.pack("<dd", p[0], p[1])

    def ring(r):
        return struct.pack("<I", len(r)) + b"".join(pt(p) for p in r)

    c = geom.get("coordinates", [])
    if t == "Point":
        out.append(pt(c))
    elif t == "LineString":
        out.append(ring(c))
    elif t == "Polygon":
        out.append(struct.pack("<I", len(c)) + b"".join(ring(r) for r in c))
    elif t == "MultiPoint":
        out.append(struct.pack("<I", len(c)))
        out.extend(struct.pack("<BI", 1, 1) + pt(p) for p in c)
    elif t == "MultiLineString":
        out.append(struct.pack("<I", len(c)))
        out.extend(struct.pack("<BI", 1, 2) + ring(l) for l in c)
    elif t == "MultiPolygon":
        out.append(struct.pack("<I", len(c)))
        out.extend(struct.pack("<BI", 1, 3) + struct.pack("<I", len(poly))
                   + b"".join(ring(r) for r in poly) for poly in c)
    elif t == "GeometryCollection":
        geoms = geom.get("geometries", [])
        out.append(struct.pack("<I", len(geoms)))
        out.extend(_wkb(g) for g in geoms)
    return b"".join(out)


def gpkg_blob(geom: dict[str, Any], srs_id: int = 4326) -> bytes:
    """GPKG geometry blob: magic, version 0, flags (little-endian, no
    envelope), srs, then WKB."""
    header = b"GP" + bytes([0, 0b00000001]) + struct.pack("<i", srs_id)
    return header + _wkb(geom)


def _init_gpkg(con: sqlite3.Connection) -> None:
    con.executescript("""
    PRAGMA application_id = 0x47504B47;
    PRAGMA user_version = 10200;
    CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
      srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
      organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
      definition TEXT NOT NULL, description TEXT);
    CREATE TABLE IF NOT EXISTS gpkg_contents (
      table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
      identifier TEXT UNIQUE, description TEXT DEFAULT '',
      last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
      min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
      srs_id INTEGER);
    CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
      table_name TEXT NOT NULL, column_name TEXT NOT NULL,
      geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
      z TINYINT NOT NULL, m TINYINT NOT NULL,
      CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name));
    """)
    con.execute("""INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES
      ('WGS 84', 4326, 'EPSG', 4326,
       'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
       NULL)""")
    con.execute("""INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES
      ('undefined', -1, 'NONE', -1, 'undefined', NULL),
      ('undefined', 0, 'NONE', 0, 'undefined', NULL)""")


# ---------------------------------------------------------------------------
# Typed per-feature-type projections (GeoPackageWriter.ts:54-466)
# ---------------------------------------------------------------------------

FEATURE_TYPE_BY_LAYER = {"runs": "run", "lifts": "lift", "spots": "spot",
                         "ski_areas": "ski_area"}


def _opt(df: DataFrame, name: str, dtype: str = "string") -> Column:
    return F.col(name) if name in df.columns else F.lit(None).cast(dtype)


def _join_or_null(vals: Column, sep: str) -> Column:
    """sorted-unique join, null when empty (the reference returns null for
    empty lists, :96)."""
    joined = F.concat_ws(sep, F.array_sort(F.array_distinct(
        F.filter(vals, lambda v: v.isNotNull()))))
    return F.when(joined != "", joined)


def _places(df: DataFrame, field: str) -> Column:
    """``field`` of the feature's places (``csv.place_values``),
    ';'-joined sorted-unique, null when empty or without places."""
    vals = place_values(df, field)
    if vals is None:
        return F.lit(None).cast("string")
    return _join_or_null(vals, ";")


def _place_cols(df: DataFrame) -> dict[str, tuple[Column, str]]:
    return {
        "country_codes": (_places(df, "iso3166_1"), "TEXT"),
        "region_codes": (_places(df, "iso3166_2"), "TEXT"),
        "countries": (_places(df, "country"), "TEXT"),
        "regions": (_places(df, "region"), "TEXT"),
        "localities": (_places(df, "locality"), "TEXT"),
    }


def _common_cols(df: DataFrame) -> dict[str, tuple[Column, str]]:
    return {
        "feature_id": (F.col("id"), "TEXT"),
        "name": (_opt(df, "name"), "TEXT"),
        "status": (_opt(df, "status"), "TEXT"),
        "sources": (F.to_json("sources") if "sources" in df.columns
                    else F.lit(None).cast("string"), "TEXT"),
        "websites": (F.to_json("websites") if "websites" in df.columns
                     else F.lit(None).cast("string"), "TEXT"),
        "wikidata_id": (_opt(df, "wikidata_id"), "TEXT"),
        **_place_cols(df),
    }


def gpkg_columns(df: DataFrame, feature_type: str,
                 refs: SkiAreaRefs | None) -> dict[str, tuple[Column, str]]:
    """{column: (expression, sql type)} per the reference's FEATURE_SCHEMAS
    (:468-473).  skiAreas flatten into ski_area_ids / ski_area_names
    (:246-258), ","-joined sorted-unique — the reference keeps stream
    order, unknowable in a distributed export — and null when empty."""
    has_sa = "ski_areas" in df.columns
    sa_ids = (_join_or_null(F.col("ski_areas"), ",") if has_sa
              else F.lit(None).cast("string"))
    sa_names = (F.nullif(refs.names(F.col("ski_areas")), F.lit(""))
                if has_sa and refs is not None
                else F.lit(None).cast("string"))
    if feature_type == "ski_area":
        stats = "statistics" in df.columns
        cols = {
            **_common_cols(df),
            "activities": (F.concat_ws(",", "activities"), "TEXT"),
            "min_elevation": (
                F.col("statistics.min_elevation").cast("double") if stats
                else F.lit(None).cast("double"), "REAL"),
            "max_elevation": (
                F.col("statistics.max_elevation").cast("double") if stats
                else F.lit(None).cast("double"), "REAL"),
            "statistics": (F.to_json("statistics") if stats
                           else F.lit(None).cast("string"), "TEXT"),
            "run_convention": (_opt(df, "run_convention"), "TEXT"),
        }
    elif feature_type == "lift":
        cols = {
            **_common_cols(df),
            "lift_type": (_opt(df, "lift_type"), "TEXT"),
            "access": (_opt(df, "access"), "TEXT"),
            "ref": (_opt(df, "ref"), "TEXT"),
            "ref_fr_cairn": (_opt(df, "ref_fr_cairn"), "TEXT"),
            "description": (_opt(df, "description"), "TEXT"),
            "oneway": (_opt(df, "oneway", "boolean"), "BOOLEAN"),
            "occupancy": (_opt(df, "occupancy", "double").cast("double"),
                          "REAL"),
            "capacity": (_opt(df, "capacity", "double").cast("double"),
                         "REAL"),
            "duration": (_opt(df, "duration", "double").cast("double"),
                         "REAL"),
            "detachable": (_opt(df, "detachable", "boolean"), "BOOLEAN"),
            "bubble": (_opt(df, "bubble", "boolean"), "BOOLEAN"),
            "heating": (_opt(df, "heating", "boolean"), "BOOLEAN"),
            "ski_area_ids": (sa_ids, "TEXT"),
            "ski_area_names": (sa_names, "TEXT"),
        }
    elif feature_type == "run":
        profile = "elevation_profile" in df.columns
        cols = {
            **_common_cols(df),
            "uses": (F.concat_ws(",", "uses"), "TEXT"),
            "ref": (_opt(df, "ref"), "TEXT"),
            "description": (_opt(df, "description"), "TEXT"),
            "difficulty": (_opt(df, "difficulty"), "TEXT"),
            "difficulty_convention": (_opt(df, "difficulty_convention"),
                                      "TEXT"),
            "oneway": (_opt(df, "oneway", "boolean"), "BOOLEAN"),
            "lit": (_opt(df, "lit", "boolean"), "BOOLEAN"),
            "gladed": (_opt(df, "gladed", "boolean"), "BOOLEAN"),
            "patrolled": (_opt(df, "patrolled", "boolean"), "BOOLEAN"),
            "snowmaking": (_opt(df, "snowmaking", "boolean"), "BOOLEAN"),
            "snowfarming": (_opt(df, "snowfarming", "boolean"), "BOOLEAN"),
            "grooming": (_opt(df, "grooming"), "TEXT"),
            "elevation_profile_heights": (
                F.concat_ws(",", F.col("elevation_profile.heights"))
                if profile else F.lit(None).cast("string"), "TEXT"),
            "elevation_profile_resolution": (
                F.col("elevation_profile.resolution").cast("double")
                if profile else F.lit(None).cast("double"), "REAL"),
            "ski_area_ids": (sa_ids, "TEXT"),
            "ski_area_names": (sa_names, "TEXT"),
        }
    elif feature_type == "spot":
        is_crossing = _opt(df, "spot_type") == "crossing"
        is_station = _opt(df, "spot_type") == "lift_station"
        cols = {
            "feature_id": (F.col("id"), "TEXT"),
            "spot_type": (_opt(df, "spot_type"), "TEXT"),
            "sources": (F.to_json("sources") if "sources" in df.columns
                        else F.lit(None).cast("string"), "TEXT"),
            "ski_area_ids": (sa_ids, "TEXT"),
            "ski_area_names": (sa_names, "TEXT"),
            **_place_cols(df),
            # per-subtype columns gated exactly as the reference (:439-465)
            "dismount": (F.when(is_crossing, _opt(df, "dismount")), "TEXT"),
            "name": (F.when(is_station, _opt(df, "name")), "TEXT"),
            "position": (F.when(is_station, _opt(df, "position")), "TEXT"),
            "entry": (F.when(is_station, _opt(df, "entry", "boolean")),
                      "BOOLEAN"),
            "exit": (F.when(is_station, _opt(df, "exit", "boolean")),
                     "BOOLEAN"),
        }
    else:
        raise ValueError(f"unknown feature type {feature_type!r}")
    return cols


def gpkg_project(df: DataFrame, feature_type: str,
                 ski_areas: DataFrame | None = None):
    """(projected DataFrame with geometry + typed columns, {col: sql type})
    — ``gpkg_columns`` as a frame, names resolved from ``ski_areas``."""
    cols = gpkg_columns(df, feature_type, SkiAreaRefs.resolve(ski_areas))
    projected = df.select(
        F.col("geometry"),
        *[expr.alias(name) for name, (expr, _) in cols.items()])
    return projected, {name: t for name, (_, t) in cols.items()}


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

def _encode(v):
    if isinstance(v, bool):
        return int(v)
    if v is None or isinstance(v, (str, int, float)):
        return v
    if hasattr(v, "asDict"):
        return json.dumps(v.asDict(recursive=True), sort_keys=True,
                          default=str)
    if isinstance(v, (list, tuple)):
        return json.dumps(
            [x.asDict(recursive=True) if hasattr(x, "asDict") else x
             for x in v], sort_keys=True, default=str)
    if isinstance(v, dict):
        return json.dumps(v, sort_keys=True, default=str)
    return str(v)


def _geom_bounds(geom: dict[str, Any]):
    def walk(c):
        if c and isinstance(c[0], (int, float)):
            yield c
        else:
            for sub in c:
                yield from walk(sub)
    if geom["type"] == "GeometryCollection":
        pts = [p for g in geom.get("geometries", [])
               for p in walk(g.get("coordinates", []))]
    else:
        pts = list(walk(geom.get("coordinates", [])))
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    return min(xs), min(ys), max(xs), max(ys)


class _LayerTables:
    """Lazily-created geometry-type tables for one logical layer, with
    per-table insert batching and bbox accumulation."""

    def __init__(self, con: sqlite3.Connection, cols: list[str],
                 coltypes: dict[str, str], batch_size: int = 5000):
        self.con, self.cols, self.coltypes = con, cols, coltypes
        self.batch_size = batch_size
        self.batches: dict[str, list[tuple]] = {}
        self.bounds: dict[str, list[float]] = {}
        self.inserts: dict[str, str] = {}

    def _ensure(self, table: str, geom_type: str) -> None:
        if table in self.inserts:
            return
        col_defs = ", ".join(
            f'"{c}" {self.coltypes.get(c, "TEXT")}' for c in self.cols)
        self.con.execute(
            f'CREATE TABLE IF NOT EXISTS "{table}" '
            f'(fid INTEGER PRIMARY KEY AUTOINCREMENT, geom BLOB'
            + (f", {col_defs}" if col_defs else "") + ")")
        self.con.execute(
            "INSERT OR IGNORE INTO gpkg_contents (table_name, data_type,"
            " identifier, srs_id) VALUES (?, 'features', ?, 4326)",
            (table, table))
        self.con.execute(
            "INSERT OR IGNORE INTO gpkg_geometry_columns VALUES (?, 'geom',"
            " ?, 4326, 0, 0)", (table, geom_type.upper()))
        placeholders = ", ".join(["?"] * (1 + len(self.cols)))
        self.inserts[table] = (
            f'INSERT INTO "{table}" (geom'
            + ("".join(f', "{c}"' for c in self.cols))
            + f") VALUES ({placeholders})")

    def add(self, table: str, geom: dict[str, Any], values: tuple) -> None:
        self._ensure(table, geom["type"])
        minx, miny, maxx, maxy = _geom_bounds(geom)
        b = self.bounds.setdefault(
            table, [float("inf"), float("inf"), -float("inf"), -float("inf")])
        b[0], b[1] = min(b[0], minx), min(b[1], miny)
        b[2], b[3] = max(b[2], maxx), max(b[3], maxy)
        batch = self.batches.setdefault(table, [])
        batch.append((gpkg_blob(geom),) + values)
        if len(batch) >= self.batch_size:
            self.con.executemany(self.inserts[table], batch)
            batch.clear()

    def flush(self) -> None:
        for table, batch in self.batches.items():
            if batch:
                self.con.executemany(self.inserts[table], batch)
                batch.clear()
        for table, (minx, miny, maxx, maxy) in self.bounds.items():
            self.con.execute(
                "UPDATE gpkg_contents SET min_x=?, min_y=?, max_x=?, max_y=?"
                " WHERE table_name=?", (minx, miny, maxx, maxy, table))


class _Layer:
    """Sink of one layer's GeoPackage tables: the geometry and the typed
    (or, for an unknown layer, TEXT) columns of each fetched row."""

    def __init__(self, con: sqlite3.Connection, name: str,
                 cols: dict[str, tuple[Column, str]], geometry: Column,
                 centroids: bool):
        self.con, self.name, self.centroids = con, name, centroids
        self.coltypes = {n: t for n, (_, t) in cols.items()}
        self.columns = [geometry] + [e for e, _ in cols.values()]

    def write(self, rows: Iterable[tuple]) -> None:
        tables = _LayerTables(self.con, list(self.coltypes), self.coltypes)
        name = self.name
        for geom_json, *vals in rows:
            geom = json.loads(geom_json)
            values = tuple(_encode(v) for v in vals)
            if self.centroids:
                # every ski area exports a centroid point (:536-552)
                point = {"type": "Point", "coordinates": geom_centroid(geom)}
                tables.add(f"{name}_point", point, values)
                if geom["type"] == "Point":
                    continue  # Point originals are not duplicated (:554-556)
            # Polygon features group as MultiPolygon (:566-569, :683-690)
            if geom["type"] == "Polygon":
                geom = {"type": "MultiPolygon",
                        "coordinates": [geom["coordinates"]]}
            tables.add(f"{name}_{geom['type'].lower()}", geom, values)
        tables.flush()


class GeoPackage:
    """One GeoPackage file being written: ``layer`` makes each layer's
    sink, ``close`` commits.  Replaces any existing file."""

    def __init__(self, path: str):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if os.path.exists(path):
            os.remove(path)
        self.con = sqlite3.connect(path)
        # bulk pragmas (GeoPackageWriter.ts:495-512)
        self.con.execute("PRAGMA journal_mode = WAL")
        self.con.execute("PRAGMA synchronous = OFF")
        _init_gpkg(self.con)

    def layer(self, name: str, df: DataFrame, refs: SkiAreaRefs | None,
              geometry_col: str = "geometry",
              ski_area_centroids: bool = True) -> _Layer:
        """Known layer names project through the reference's typed
        schemas; unknown layers fall back to generic TEXT columns
        (arrays/structs as JSON).  Ski-area layers additionally export
        every feature as a centroid point into ``<layer>_point``
        (:534-557)."""
        ftype = FEATURE_TYPE_BY_LAYER.get(name)
        if ftype is not None:
            cols = gpkg_columns(df, ftype, refs)
        else:
            cols = {c: (F.col(c), "TEXT") for c in df.columns
                    if c != geometry_col}
        return _Layer(self.con, name, cols, F.col(geometry_col),
                      ski_area_centroids and ftype == "ski_area")

    def close(self) -> None:
        self.con.commit()
        self.con.close()


def write_geopackage(layers: dict[str, DataFrame], path: str,
                     geometry_col: str = "geometry",
                     ski_area_centroids: bool = True) -> None:
    """Write each layer as geometry-type-grouped GPKG feature tables, one
    fetch per layer; ski-area names resolve from ``layers["ski_areas"]``
    when present."""
    refs = SkiAreaRefs.resolve(layers.get("ski_areas"))
    gpkg = GeoPackage(path)
    try:
        for name, df in layers.items():
            write_layer(df, [gpkg.layer(name, df, refs, geometry_col,
                                        ski_area_centroids)])
    finally:
        gpkg.close()


def merge_geopackages(paths: list[str], out_path: str) -> None:
    """K5 gpkg merge: INSERT OR IGNORE of every layer table
    (src/io/GeoPackageMerger.ts:32,175-177)."""
    import shutil
    shutil.copy(paths[0], out_path)
    con = sqlite3.connect(out_path)
    for p in paths[1:]:
        con.execute("ATTACH DATABASE ? AS src", (p,))
        tables = [r[0] for r in con.execute(
            "SELECT table_name FROM src.gpkg_contents")]
        for t in tables:
            cols = [r[1] for r in con.execute(f'PRAGMA table_info("{t}")')]
            non_fid = [c for c in cols if c != "fid"]
            collist = ", ".join(f'"{c}"' for c in non_fid)
            con.execute(f'INSERT OR IGNORE INTO "{t}" ({collist}) '
                        f'SELECT {collist} FROM src."{t}"')
        con.commit()
        con.execute("DETACH DATABASE src")
    con.close()

"""Geometry kernel: numpy/pure-python geometry math + Spark bindings.

Design (SURVEY.md §2.8, §4.3): the container has no shapely/geos, so the
kernel is implemented from published geometry algorithms (haversine, ray
casting, point-segment projection) in numpy and exposed to Spark as
Arrow-batched pandas UDFs over GeoJSON-string columns (point-in-polygon
with holes, interior points, sampling along lines).

Reference parity targets: length/centroid/contains/dwithin/along/interior
point per ``src/transforms/GeoTransforms.ts`` and the PostGIS predicates in
``src/clustering/database/PostgreSQLClusteringDatabase.ts:675-707``.
"""

from __future__ import annotations

import json
import math
from typing import Any, Iterable

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType

EARTH_RADIUS_KM = 6371.0
KM_PER_DEG_LAT = 111.32


# ---------------------------------------------------------------------------
# numpy / pure-python kernel over GeoJSON coordinate arrays
# ---------------------------------------------------------------------------

def _coords_of(geom: dict[str, Any]) -> list:
    return geom.get("coordinates", [])


def iter_positions(geom: dict[str, Any]) -> Iterable[list[float]]:
    """Yield every [lon, lat, ...] position of any GeoJSON geometry."""
    t = geom["type"]
    c = _coords_of(geom)
    if t == "Point":
        yield c
    elif t in ("LineString", "MultiPoint"):
        yield from c
    elif t in ("Polygon", "MultiLineString"):
        for ring in c:
            yield from ring
    elif t == "MultiPolygon":
        for poly in c:
            for ring in poly:
                yield from ring
    elif t == "GeometryCollection":
        for g in geom.get("geometries", []):
            yield from iter_positions(g)


def with_elevations(geom: dict[str, Any],
                    elevations: list[float | None]) -> dict[str, Any]:
    """Rebuild ``geom`` with a third coordinate per position, consuming
    ``elevations`` in the same depth-first order :func:`iter_positions`
    yields (the reference's addElevations walk, Elevation.ts:447-495).
    A ``None`` elevation keeps that position 2D; any pre-existing z is
    dropped first, like the reference's getCoordinates."""
    it = iter(elevations)

    def leaf(p):
        el = next(it)
        return [p[0], p[1]] if el is None else [p[0], p[1], el]

    t = geom["type"]
    if t == "GeometryCollection":
        return {"type": t,
                "geometries": [with_elevations(g, it)
                               for g in geom.get("geometries", [])]}
    c = _coords_of(geom)
    if t == "Point":
        new = leaf(c)
    elif t in ("LineString", "MultiPoint"):
        new = [leaf(p) for p in c]
    elif t in ("Polygon", "MultiLineString"):
        new = [[leaf(p) for p in ring] for ring in c]
    elif t == "MultiPolygon":
        new = [[[leaf(p) for p in ring] for ring in poly] for poly in c]
    else:
        return geom
    return {"type": t, "coordinates": new}


def haversine_point_km(p1: list[float], p2: list[float]) -> float:
    dlat = math.radians(p2[1] - p1[1]) / 2.0
    dlon = math.radians(p2[0] - p1[0]) / 2.0
    a = (math.sin(dlat) ** 2
         + math.cos(math.radians(p1[1])) * math.cos(math.radians(p2[1]))
         * math.sin(dlon) ** 2)
    return 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def line_length_km(coords: list[list[float]]) -> float:
    return sum(haversine_point_km(coords[i], coords[i + 1])
               for i in range(len(coords) - 1))


def geometry_length_km(geom: dict[str, Any]) -> float:
    """Geodesic length in km (LineString / MultiLineString / Polygon rings
    contribute their perimeter like turf.length does for lines only — we
    follow turf: only (Multi)LineString has length; others → 0)."""
    t = geom["type"]
    if t == "LineString":
        return line_length_km(_coords_of(geom))
    if t == "MultiLineString":
        return sum(line_length_km(ls) for ls in _coords_of(geom))
    return 0.0


def _positions_excluding_ring_closers(geom: dict[str, Any]):
    """Positions with each polygon ring's closing duplicate dropped —
    turf's ``coordAll(…, excludeWrapCoord=true)``, which turf.centroid
    uses so the repeated first/last vertex doesn't bias the mean."""
    t = geom["type"]
    if t in ("Polygon", "MultiPolygon"):
        polys = [_coords_of(geom)] if t == "Polygon" else _coords_of(geom)
        for poly in polys:
            for ring in poly:
                closed = (len(ring) > 1
                          and ring[0][:2] == ring[-1][:2])
                yield from (ring[:-1] if closed else ring)
    elif t == "GeometryCollection":
        for g in geom.get("geometries", []):
            yield from _positions_excluding_ring_closers(g)
    else:
        yield from iter_positions(geom)


def centroid(geom: dict[str, Any]) -> list[float]:
    """Mean of all vertices EXCLUDING each polygon ring's closing
    duplicate (turf.centroid semantics — GeoTransforms.unit.test.ts pins
    the centroid of a closed unit square at [0.5, 0.5], which requires
    dropping the wrap coordinate; used by the reference for spot points /
    ski-area representative points)."""
    pts = list(_positions_excluding_ring_closers(geom))
    n = len(pts)
    return [sum(p[0] for p in pts) / n, sum(p[1] for p in pts) / n]


def point_in_ring(x: float, y: float, ring: list[list[float]]) -> bool:
    """Ray casting; ``ring`` closed or open."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
    return inside


def point_in_polygon(x: float, y: float, polygon: list[list[list[float]]]) -> bool:
    """Polygon = [outer_ring, hole1, ...]."""
    if not polygon or not point_in_ring(x, y, polygon[0]):
        return False
    return not any(point_in_ring(x, y, hole) for hole in polygon[1:])


def point_in_geom(x: float, y: float, geom: dict[str, Any]) -> bool:
    t = geom["type"]
    if t == "Polygon":
        return point_in_polygon(x, y, _coords_of(geom))
    if t == "MultiPolygon":
        return any(point_in_polygon(x, y, poly) for poly in _coords_of(geom))
    return False


def _project_point_on_segment(px, py, x1, y1, x2, y2):
    """Planar projection of (px,py) onto segment; returns (x, y, t)."""
    dx, dy = x2 - x1, y2 - y1
    d2 = dx * dx + dy * dy
    if d2 == 0.0:
        return x1, y1, 0.0
    t = max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / d2))
    return x1 + t * dx, y1 + t * dy, t


def nearest_point_on_line(point: list[float], coords: list[list[float]]) -> list[float]:
    """Nearest position on a LineString, equirectangular-local approximation
    (adequate at the sub-km scales the reference uses: 30–500 m radii)."""
    px, py = point[0], point[1]
    coslat = math.cos(math.radians(py)) or 1e-12
    best, best_d = coords[0][:2], float("inf")
    for i in range(len(coords) - 1):
        x1, y1 = coords[i][0], coords[i][1]
        x2, y2 = coords[i + 1][0], coords[i + 1][1]
        nx, ny, _ = _project_point_on_segment(px * coslat, py,
                                              x1 * coslat, y1, x2 * coslat, y2)
        d = (nx - px * coslat) ** 2 + (ny - py) ** 2
        if d < best_d:
            best_d, best = d, [nx / coslat, ny]
    return best


def snap_point_to_line(point: list[float],
                       geom: dict[str, Any]) -> list[float]:
    """Closest position on a (Multi)LineString to ``point`` — the
    reference's nearestPointOnLine station snap
    (LiftStationAssociator.ts:158-186)."""
    t = geom["type"]
    lines = [geom["coordinates"]] if t == "LineString" else geom["coordinates"]
    best, best_d = point[:2], float("inf")
    for coords in lines:
        cand = nearest_point_on_line(point, coords)
        d = haversine_point_km(point, cand)
        if d < best_d:
            best, best_d = cand, d
    return best


def infer_station_position(station_elev: float | None,
                           lift_geom: dict[str, Any]) -> str | None:
    """bottom/mid/top from the station's elevation vs the lift's elevation
    range — bottom/top 25% thresholds (LiftStationAssociator.ts:186-214).
    ``None`` when the station has no (or zero, matching the reference's
    falsy check) elevation or the lift has <2 elevated coords."""
    if not station_elev:
        return None
    elevs = [p[2] for p in iter_positions(lift_geom) if len(p) >= 3]
    if len(elevs) < 2:
        return None
    lo, hi = min(elevs), max(elevs)
    rng = hi - lo
    if station_elev <= lo + rng * 0.25:
        return "bottom"
    if station_elev >= hi - rng * 0.25:
        return "top"
    return "mid"


def min_distance_km(g1: dict[str, Any], g2: dict[str, Any]) -> float:
    """Minimum geodesic distance between two geometries, via vertex-to-
    segment projection both ways (exact for point/line pairs whose nearest
    approach is at a vertex projection; tight approximation otherwise)."""
    if g1["type"] in ("Polygon", "MultiPolygon"):
        for p in iter_positions(g2):
            if point_in_geom(p[0], p[1], g1):
                return 0.0
    if g2["type"] in ("Polygon", "MultiPolygon"):
        for p in iter_positions(g1):
            if point_in_geom(p[0], p[1], g2):
                return 0.0

    def segments(g):
        t = g["type"]
        c = _coords_of(g)
        if t == "LineString":
            yield c
        elif t in ("Polygon", "MultiLineString"):
            yield from c
        elif t == "MultiPolygon":
            for poly in c:
                yield from poly

    best = float("inf")

    def check(points_geom, lines_geom):
        nonlocal best
        lines = list(segments(lines_geom))
        for p in iter_positions(points_geom):
            if not lines:
                for q in iter_positions(lines_geom):
                    best = min(best, haversine_point_km(p, q))
            for line in lines:
                np_ = nearest_point_on_line(p, line)
                best = min(best, haversine_point_km(p, np_))

    check(g1, g2)
    check(g2, g1)
    return best


def dwithin(g1: dict[str, Any], g2: dict[str, Any], radius_km: float) -> bool:
    return min_distance_km(g1, g2) <= radius_km


def interior_point(geom: dict[str, Any]) -> list[float]:
    """Reference P11 (``GeoTransforms.ts:31-82``): centroid if inside, else
    nearest point on the rings to the centroid."""
    c = centroid(geom)
    if geom["type"] not in ("Polygon", "MultiPolygon"):
        return c
    if point_in_geom(c[0], c[1], geom):
        return c
    rings: list[list[list[float]]] = []
    if geom["type"] == "Polygon":
        rings = list(_coords_of(geom))
    else:
        for poly in _coords_of(geom):
            rings.extend(poly)
    best, best_d = c, float("inf")
    for ring in rings:
        p = nearest_point_on_line(c, ring)
        d = haversine_point_km(c, p)
        if d < best_d:
            best_d, best = d, p
    return best


def points_along_geometry(geom: dict[str, Any], interval_km: float) -> list[list[float]]:
    """Reference P12 (``GeoTransforms.ts:136-223``): walk each line at a fixed
    interval, always including endpoints; polygons use the outer ring; points
    pass through; results deduped preserving order."""
    t = geom["type"]
    lines: list[list[list[float]]] = []
    if t == "Point":
        return [_coords_of(geom)[:2]]
    if t == "MultiPoint":
        lines = []
        out = [p[:2] for p in _coords_of(geom)]
        return _dedupe_points(out)
    if t == "LineString":
        lines = [_coords_of(geom)]
    elif t == "MultiLineString":
        lines = _coords_of(geom)
    elif t == "Polygon":
        lines = [_coords_of(geom)[0]] if _coords_of(geom) else []
    elif t == "MultiPolygon":
        lines = [poly[0] for poly in _coords_of(geom) if poly]
    out: list[list[float]] = []
    for line in lines:
        out.extend(_sample_line(line, interval_km))
    return _dedupe_points(out)


def _sample_line(coords: list[list[float]], interval_km: float) -> list[list[float]]:
    if not coords:
        return []
    out = [coords[0][:2]]
    carried = 0.0
    for i in range(len(coords) - 1):
        p1, p2 = coords[i], coords[i + 1]
        seg = haversine_point_km(p1, p2)
        pos = interval_km - carried
        while pos < seg:
            f = pos / seg
            out.append([p1[0] + (p2[0] - p1[0]) * f, p1[1] + (p2[1] - p1[1]) * f])
            pos += interval_km
        carried = (carried + seg) % interval_km if interval_km > 0 else 0.0
    out.append(coords[-1][:2])
    return out


def _dedupe_points(pts: list[list[float]]) -> list[list[float]]:
    seen: set[tuple[float, float]] = set()
    out = []
    for p in pts:
        k = (round(p[0], 9), round(p[1], 9))
        if k not in seen:
            seen.add(k)
            out.append([p[0], p[1]])
    return out


def covering_cells(geom: dict[str, Any], cell_deg: float) -> list[tuple[int, int]]:
    """All grid cells intersecting the geometry's bbox (bbox-cover is a safe
    over-approximation; the spatial join applies the exact predicate after
    the cell equi-join)."""
    pts = list(iter_positions(geom))
    if not pts:
        return []
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x0, x1 = math.floor(min(xs) / cell_deg), math.floor(max(xs) / cell_deg)
    y0, y1 = math.floor(min(ys) / cell_deg), math.floor(max(ys) / cell_deg)
    return [(cx, cy) for cx in range(int(x0), int(x1) + 1)
            for cy in range(int(y0), int(y1) + 1)]


# ---------------------------------------------------------------------------
# pandas-UDF bindings (Arrow-batched)
# ---------------------------------------------------------------------------

@F.pandas_udf(DoubleType())
def geometry_length_km_udf(geojson: pd.Series) -> pd.Series:
    return geojson.map(lambda s: geometry_length_km(json.loads(s)))


@F.pandas_udf(StringType())
def centroid_udf(geojson: pd.Series) -> pd.Series:
    return geojson.map(lambda s: json.dumps(
        {"type": "Point", "coordinates": centroid(json.loads(s))}))


def central_points(geom: dict[str, Any]) -> dict[str, Any]:
    """Reference ``centralPointsInFeature`` (GeoTransforms.ts:31-82):
    Polygon → its interior Point; MultiPolygon → MultiPoint of each member
    polygon's interior point (NOT one collapsed point); anything else →
    centroid Point."""
    if geom["type"] == "MultiPolygon":
        return {"type": "MultiPoint",
                "coordinates": [
                    interior_point({"type": "Polygon", "coordinates": poly})
                    for poly in _coords_of(geom)]}
    return {"type": "Point", "coordinates": interior_point(geom)}


@F.pandas_udf(StringType())
def interior_point_udf(geojson: pd.Series) -> pd.Series:
    return geojson.map(lambda s: json.dumps(central_points(json.loads(s))))


@F.pandas_udf(BooleanType())
def geometry_valid_udf(geojson: pd.Series) -> pd.Series:
    """P8 validity filter: parseable GeoJSON with enough positions for its
    type and finite coordinates (reference ``GeoTransforms.ts:113-130``)."""
    def ok(s):
        try:
            g = json.loads(s)
            t = g.get("type")
            pts = list(iter_positions(g))
            if not pts or any(not all(math.isfinite(v) for v in p[:2]) for p in pts):
                return False
            if t == "LineString" and len(pts) < 2:
                return False
            if t in ("Polygon", "MultiPolygon") and len(pts) < 4:
                return False
            return True
        except (ValueError, KeyError, TypeError):
            return False
    return geojson.map(ok)


def iter_paths(geom: dict[str, Any]) -> Iterable[list[list[float]]]:
    """Yield every vertex path (LineString coords, ring, ...) of a
    geometry; Points yield nothing."""
    t = geom["type"]
    c = _coords_of(geom)
    if t == "LineString":
        yield c
    elif t in ("Polygon", "MultiLineString"):
        yield from c
    elif t == "MultiPolygon":
        for poly in c:
            yield from poly
    elif t == "GeometryCollection":
        for g in geom.get("geometries", []):
            yield from iter_paths(g)


def _polygon_boundary_edges(polygon: dict[str, Any]):
    """All boundary edges of a (Multi)Polygon as two (n, 2) arrays."""
    starts, ends = [], []
    for ring in iter_paths(polygon):
        a = np.asarray([p[:2] for p in ring], dtype=float)
        if len(a) < 2:
            continue
        if not np.array_equal(a[0], a[-1]):
            a = np.vstack([a, a[:1]])
        starts.append(a[:-1])
        ends.append(a[1:])
    if not starts:
        return None, None
    return np.concatenate(starts), np.concatenate(ends)


def _segment_properly_crosses(p, q, e1, e2) -> bool:
    """True when segment p→q *properly* crosses any boundary edge (strict
    sign changes on both orientation pairs; touching/collinear contact is
    not a crossing — ST_CoveredBy allows boundary contact)."""
    dx, dy = q[0] - p[0], q[1] - p[1]
    o1 = dx * (e1[:, 1] - p[1]) - dy * (e1[:, 0] - p[0])
    o2 = dx * (e2[:, 1] - p[1]) - dy * (e2[:, 0] - p[0])
    dex, dey = e2[:, 0] - e1[:, 0], e2[:, 1] - e1[:, 1]
    o3 = dex * (p[1] - e1[:, 1]) - dey * (p[0] - e1[:, 0])
    o4 = dex * (q[1] - e1[:, 1]) - dey * (q[0] - e1[:, 0])
    return bool(np.any((o1 * o2 < 0) & (o3 * o4 < 0)))


def covered_by(geom: dict[str, Any], polygon: dict[str, Any]) -> bool:
    """ST_CoveredBy(geom, polygon): every vertex of ``geom`` lies inside
    the (Multi)Polygon AND no segment properly crosses its boundary (a
    vertex-containment-only test would claim a long segment that dips out
    of a concave polygon between two interior vertices).  Runs as the
    exact post-filter after the grid-cell candidate join."""
    pts = list(iter_positions(geom))
    if not pts:
        return False
    if not all(point_in_geom(p[0], p[1], polygon) for p in pts):
        return False
    e1, e2 = _polygon_boundary_edges(polygon)
    if e1 is None:
        return False
    for path in iter_paths(geom):
        arr = np.asarray([p[:2] for p in path], dtype=float)
        for i in range(len(arr) - 1):
            if _segment_properly_crosses(arr[i], arr[i + 1], e1, e2):
                return False
    return True


def geometry_collection(geoms: list[dict[str, Any]]) -> dict[str, Any]:
    """Member-geometry union as a GeometryCollection (the engine's stand-in
    for ST_Union as a derived ski-area geometry: distance/centroid
    computations iterate positions, so dissolving is unnecessary)."""
    return {"type": "GeometryCollection", "geometries": geoms}


def representative_point(geoms: list[dict[str, Any]]) -> list[float]:
    """A5 ski-area representative point (SkiAreaClusteringService.ts:
    1273-1300): centroid of the member collection; when the centroid is
    > 0.1 km from every member vertex, move it onto the line toward the
    nearest vertex, stopping 0.1 km short of it."""
    coll = geometry_collection(geoms)
    c = centroid(coll)
    pts = list(iter_positions(coll))
    if not pts:
        return c
    nearest = min(pts, key=lambda p: haversine_point_km(c, p))
    d = haversine_point_km(c, nearest)
    if d <= 0.1:
        return c
    f = 1 - 0.1 / d  # fraction of the way from centroid toward the vertex
    return [c[0] + (nearest[0] - c[0]) * f, c[1] + (nearest[1] - c[1]) * f]


from pyspark.sql.types import ArrayType, StructField, StructType  # noqa: E402

_ELEV_STATS_TYPE = StructType([
    StructField("elevation_change", DoubleType()),
    StructField("min_elevation", DoubleType()),
    StructField("max_elevation", DoubleType()),
])


@F.pandas_udf(_ELEV_STATS_TYPE)
def elevation_stats_udf(geojson: pd.Series) -> pd.DataFrame:
    """Per-feature elevation stats from 3D LineStrings
    (SkiAreaStatistics.ts:94-108); nulls when the geometry has no
    elevation data."""
    import numpy as np

    rows = []
    for s in geojson:
        g = json.loads(s)
        if g.get("type") != "LineString" or not g["coordinates"] \
                or len(g["coordinates"][0]) < 3:
            rows.append((None, None, None))
            continue
        zs = [c[2] for c in g["coordinates"]]
        rows.append((zs[-1] - zs[0], min(zs), max(zs)))
    return pd.DataFrame(rows, columns=["elevation_change", "min_elevation",
                                       "max_elevation"])


_ELEV_METRICS_TYPE = StructType([
    StructField("inclined_length_m", DoubleType()),
    StructField("ascent_m", DoubleType()),
    StructField("descent_m", DoubleType()),
    StructField("average_pitch", DoubleType()),
    StructField("max_pitch", DoubleType()),
    StructField("min_elevation_m", DoubleType()),
    StructField("max_elevation_m", DoubleType()),
])


@F.pandas_udf(_ELEV_METRICS_TYPE)
def elevation_metrics_udf(geojson: pd.Series) -> pd.DataFrame:
    """Elevation-derived CSV metrics over 3D LineStrings (the published
    openskidata-format getRunElevationData/getLiftElevationData measures
    used by CSVFormatter.ts:172-293): inclined (slope) length, total
    ascent/descent, average/max pitch (rise over horizontal run), min/max
    elevation.  2D geometries yield nulls."""
    rows = []
    for s in geojson:
        g = json.loads(s)
        if g.get("type") != "LineString" or not g["coordinates"] \
                or len(g["coordinates"][0]) < 3:
            rows.append((None,) * 7)
            continue
        cs = g["coordinates"]
        inclined = ascent = descent = 0.0
        max_pitch = 0.0
        horiz_total = 0.0
        for a, b in zip(cs, cs[1:]):
            horiz = haversine_point_km(a, b) * 1000.0
            dz = b[2] - a[2]
            inclined += math.sqrt(horiz * horiz + dz * dz)
            horiz_total += horiz
            if dz > 0:
                ascent += dz
            else:
                descent += -dz
            if horiz > 0:
                max_pitch = max(max_pitch, abs(dz) / horiz)
        zs = [c[2] for c in cs]
        net = abs(zs[-1] - zs[0])
        avg_pitch = net / horiz_total if horiz_total > 0 else None
        rows.append((inclined, ascent, descent, avg_pitch, max_pitch,
                     min(zs), max(zs)))
    return pd.DataFrame(rows, columns=[
        "inclined_length_m", "ascent_m", "descent_m", "average_pitch",
        "max_pitch", "min_elevation_m", "max_elevation_m"])


def evenly_spaced_points(coords: list[list[float]],
                         n_segments: int) -> list[list[float]]:
    """``n_segments + 1`` points evenly spaced by geodesic arc length along
    a LineString (endpoints included) — the resampling behind the published
    openskidata-format elevation-profile extraction (25 m target)."""
    if len(coords) < 2 or n_segments < 1:
        return [c[:2] for c in coords]
    seg_len = [haversine_point_km(coords[i], coords[i + 1])
               for i in range(len(coords) - 1)]
    total = sum(seg_len)
    if total == 0:
        return [coords[0][:2]] * (n_segments + 1)
    step = total / n_segments
    out = [coords[0][:2]]
    seg_i, seg_used = 0, 0.0
    for k in range(1, n_segments):
        target = step * k
        while seg_i < len(seg_len) - 1 and seg_used + seg_len[seg_i] < target:
            seg_used += seg_len[seg_i]
            seg_i += 1
        local = (target - seg_used) / seg_len[seg_i] if seg_len[seg_i] else 0.0
        a, b = coords[seg_i], coords[seg_i + 1]
        out.append([a[0] + (b[0] - a[0]) * local,
                    a[1] + (b[1] - a[1]) * local])
    out.append(coords[-1][:2])
    return out


def bearing_deg(p1: list[float], p2: list[float]) -> float:
    """Initial great-circle bearing from p1 to p2, degrees [0, 360)."""
    lam1, phi1 = math.radians(p1[0]), math.radians(p1[1])
    lam2, phi2 = math.radians(p2[0]), math.radians(p2[1])
    dlam = lam2 - lam1
    y = math.sin(dlam) * math.cos(phi2)
    x = (math.cos(phi1) * math.sin(phi2)
         - math.sin(phi1) * math.cos(phi2) * math.cos(dlam))
    return (math.degrees(math.atan2(y, x)) + 360.0) % 360.0


# openskidata-format computeViewportHint: flat equirectangular projection
# constant (meters per degree of latitude).  Derived from the reference's
# snapshot vectors (RunFormatter.unit.test.ts:67-76: a 1°-lat extent yields
# rotatedHeightMeters == 111320.0 float-exact).
VIEWPORT_M_PER_DEG = 111320.0

# Camera-bearing offset from the downhill direction.  The reference vector
# (PrepareGeoJSONWithElevation.int.test.ts:134) matches
# bearing(highest→lowest vertex) + 210° to 1e-10 — i.e. the camera faces
# uphill (downhill + 180°) with a 30° aesthetic twist.
_VIEWPORT_BEARING_OFFSET = 210.0


def compute_viewport_hint(geoms: list[dict[str, Any]]):
    """openskidata-format 12.x ``computeViewportHint`` semantics, derived
    from the reference's inline-snapshot vectors (the package source is not
    vendored; every field below reproduces the published vectors to <1e-9
    relative — residuals are JS-vs-C libm noise):

    - ``center``: [lon, lat] midpoint of the bbox over all positions of all
      input geometries.
    - ``bearing``: null for 2D geometry (client falls back to a top-down
      view, Elevation.ts:136-139); for 3D geometry with elevation range,
      great-circle bearing from the highest to the lowest vertex plus 210°
      (mod 360) — camera faces uphill with a 30° twist.
    - ``rotated_width/height_meters``: extents of all positions projected to
      meters (equirectangular about the center latitude, 111320 m/deg) in
      the frame rotated so screen-up is the bearing; elevation adds 1:1 to
      the screen-y of each position.
    - ``min_camera_y``: min screen-y relative to the projected center (with
      center elevation = mid of the z range).

    Used at every point the reference recomputes it: formatters (2D,
    RunFormatter.ts:79), after elevation enrichment (Elevation.ts:140),
    after run merging (MergeOverlappingRuns.ts:78), and for ski areas from
    member geometries (SkiAreaClusteringService.ts:1208-1211).
    """
    pts: list[list[float]] = []
    for g in geoms:
        if g:
            pts.extend(iter_positions(g))
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    clon = (min(xs) + max(xs)) / 2.0
    clat = (min(ys) + max(ys)) / 2.0
    zpts = [p for p in pts if len(p) >= 3]
    zs = [p[2] for p in zpts]
    bearing = None
    if zs and max(zs) > min(zs):
        top = max(zpts, key=lambda p: p[2])
        bottom = min(zpts, key=lambda p: p[2])
        bearing = (bearing_deg(top, bottom) + _VIEWPORT_BEARING_OFFSET) % 360.0
    th = math.radians(bearing) if bearing is not None else 0.0
    s, c = math.sin(th), math.cos(th)
    m = VIEWPORT_M_PER_DEG
    k = math.cos(math.radians(clat))
    xr, yr = [], []
    for p in pts:
        x = p[0] * m * k
        y = p[1] * m
        z = p[2] if len(p) >= 3 else 0.0
        xr.append(x * c - y * s)
        yr.append(x * s + y * c + z)
    cz = (min(zs) + max(zs)) / 2.0 if zs else 0.0
    yc = (clon * m * k) * s + (clat * m) * c + cz
    return (bearing, [clon, clat], min(yr) - yc,
            max(yr) - min(yr), max(xr) - min(xr))


_VIEWPORT_TYPE = StructType([
    StructField("bearing", DoubleType()),
    StructField("center", ArrayType(DoubleType())),
    StructField("min_camera_y", DoubleType()),
    StructField("rotated_height_meters", DoubleType()),
    StructField("rotated_width_meters", DoubleType()),
])

_VIEWPORT_COLS = ["bearing", "center", "min_camera_y",
                  "rotated_height_meters", "rotated_width_meters"]


@F.pandas_udf(_VIEWPORT_TYPE)
def viewport_hint_udf(geojson: pd.Series) -> pd.DataFrame:
    """Viewport hint of a single geometry JSON column (see
    compute_viewport_hint)."""
    rows = []
    for gstr in geojson:
        hint = compute_viewport_hint([json.loads(gstr)]) if gstr else None
        rows.append(hint if hint else (None,) * 5)
    return pd.DataFrame(rows, columns=_VIEWPORT_COLS)


@F.pandas_udf(_VIEWPORT_TYPE)
def viewport_hint_multi_udf(geojsons: pd.Series) -> pd.DataFrame:
    """Viewport hint over an array-of-geometry-JSON column — the ski-area
    member-geometry form (SkiAreaClusteringService.ts:1208-1211)."""
    rows = []
    for arr in geojsons:
        geoms = [json.loads(gstr) for gstr in arr if gstr] \
            if arr is not None else []
        hint = compute_viewport_hint(geoms)
        rows.append(hint if hint else (None,) * 5)
    return pd.DataFrame(rows, columns=_VIEWPORT_COLS)

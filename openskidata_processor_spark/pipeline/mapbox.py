"""P10 — Mapbox-GL style projections (src/transforms/MapboxGLFormatter.ts:
60-246): slim render-oriented properties per layer, matching the
reference's exported mapboxgl_*.geojson property contract
(PrepareGeoJSON.int.test.ts snapshots).

All derived columns are Catalyst expressions, returned as named columns
(``*_columns``) so the layer's export can carry the Mapbox feature
(``mapbox_feature``) in the same select as every other sink; the
``mapbox_*`` frames are views of the same columns.  The per-use parallel line
offsets are the W4 pattern — one FEATURE per run, with one offset column
per present use (offset = idx − (n−1)/2 over the unique sorted mapped
uses, MapboxGLFormatter.ts:104-121); ski-area polygons render as interior
points (P11, GeoTransforms.ts:31-82).

Color values: the run-blue and lift-operating HSL constants are
snapshot-verified against the reference output
(PrepareGeoJSON.int.test.ts:258,329); the remaining entries follow the
same scheme but are engine-chosen placeholders (the upstream constant
table lives in the unvendored openskidata-format package).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import interior_point_udf
from ..sinks.csv import run_color, ski_area_figures
from ..sinks.geojson import feature_expr

# colorName → rendered HSL value (runColorNameToValue).
RUN_COLOR_VALUES = {
    "green": "hsl(125, 100%, 33%)",   # placeholder (same scheme)
    "blue": "hsl(208, 100%, 33%)",    # snapshot-verified
    "red": "hsl(359, 94%, 53%)",      # placeholder
    "black": "hsl(0, 0%, 0%)",        # placeholder
    "orange": "hsl(34, 100%, 50%)",   # placeholder
    "grey": "hsl(0, 0%, 55%)",        # placeholder
}

# status → lift line color (getLiftColor); operating is snapshot-verified.
LIFT_COLOR_VALUES = {
    "operating": "hsl(0, 82%, 42%)",
}
LIFT_COLOR_DEFAULT = "hsl(0, 0%, 55%)"

# liftType → human label for name_and_type (getLiftNameAndType);
# "T-bar" is snapshot-verified.
LIFT_TYPE_LABELS = {
    "cable_car": "Cable Car", "gondola": "Gondola",
    "hybrid": "Hybrid", "chair_lift": "Chairlift",
    "mixed_lift": "Mixed Lift", "drag_lift": "Drag Lift",
    "t-bar": "T-bar", "j-bar": "J-bar", "platter": "Platter",
    "rope_tow": "Rope Tow", "magic_carpet": "Magic Carpet",
    "funicular": "Funicular", "zip_line": "Zip Line",
    "funitel": "Funitel", "railway": "Railway",
}

_MAPBOX_USES = ("downhill", "nordic", "skitour")


def _lookup(mapping: dict[str, str], key: Column,
            default: str | None = None) -> Column:
    expr = F.lit(default)
    for k, v in mapping.items():
        expr = F.when(key == k, F.lit(v)).otherwise(expr)
    return expr


def _name_including_ref(name: Column, ref: Column) -> Column:
    """getNameIncludingRef (MapboxGLFormatter.ts:253-263)."""
    return (F.when(ref.isNull(), name)
            .when(name.isNull(), ref)
            .otherwise(F.concat(ref, F.lit(" - "), name)))


def run_columns(runs: DataFrame) -> tuple[Column, dict[str, Column]]:
    """Runs → one render feature per run; per-use parallel line offsets as
    downhill/nordic/skitour/other columns; connection-only runs dropped
    (MapboxGLFormatter.ts:79-127).  Returns (keep condition, columns)."""
    keep = F.exists("uses", lambda u: u != "connection")
    # mapboxGLRunUse: downhill/nordic/skitour pass through, rest → other
    uses = F.array_sort(F.array_distinct(F.transform(
        "uses", lambda u: F.when(u.isin(*_MAPBOX_USES), u)
                           .otherwise(F.lit("other")))))
    n = F.size(uses)

    def offset(use: str) -> Column:
        pos = F.array_position(uses, use)  # 1-based, 0 when absent
        return F.when(pos > 0, (pos - 1) - (n - 1) / 2.0)

    color_name = run_color(F.col("difficulty_convention"),
                           F.col("difficulty"))
    return keep, {
        "id": F.col("id"),
        "name": _name_including_ref(F.col("name"), F.col("ref")),
        "difficulty": F.col("difficulty"), "oneway": F.col("oneway"),
        "lit": F.col("lit"), "gladed": F.col("gladed"),
        "patrolled": F.col("patrolled"),
        "color": _lookup(RUN_COLOR_VALUES, color_name),
        "colorName": color_name,
        "grooming": F.col("grooming"), "snowmaking": F.col("snowmaking"),
        "snowfarming": F.col("snowfarming"), "tunnel": F.col("tunnel"),
        "skiAreas": F.col("ski_areas"),
        "downhill": offset("downhill"), "nordic": offset("nordic"),
        "skitour": offset("skitour"), "other": offset("other"),
        "geometry": F.col("geometry"),
    }


def lift_columns(lifts: DataFrame) -> tuple[None, dict[str, Column]]:
    """Lifts → render rows (MapboxGLFormatter.ts:131-151): name_and_type
    ("Name (Type)" plus ref), status color, station ids."""
    label = _lookup(LIFT_TYPE_LABELS, F.col("lift_type"))
    name_and_type = (F.when(F.col("name").isNotNull() & label.isNotNull(),
                            F.concat(F.col("name"), F.lit(" ("),
                                     label, F.lit(")")))
                     .otherwise(F.coalesce(F.col("name"), label)))
    station_ids = (F.transform("stations", lambda s: s["id"])
                   if "stations" in lifts.columns
                   else F.array().cast("array<string>"))
    return None, {
        "id": F.col("id"),
        "name_and_type": _name_including_ref(name_and_type, F.col("ref")),
        "color": _lookup(LIFT_COLOR_VALUES, F.col("status"),
                         LIFT_COLOR_DEFAULT),
        "status": F.col("status"), "access": F.col("access"),
        "stationIds": station_ids,
        "skiAreas": F.col("ski_areas"),
        "tunnel": F.col("tunnel"),
        "geometry": F.col("geometry"),
    }


def ski_area_columns(ski_areas: DataFrame) -> tuple[None, dict[str, Column]]:
    """Ski areas render as interior points (never polygons on the map);
    rounded distance/elevation stats, name shortened by dropping the
    parenthetical when over 20 chars (shortenedName,
    MapboxGLFormatter.ts:204-251)."""
    is_poly = F.get_json_object("geometry", "$.type") \
        .isin("Polygon", "MultiPolygon")
    name = F.col("name")
    short = F.when(
        name.isNotNull() & (F.length(name) > 20),
        F.trim(F.split(name, r"\(")[0])).otherwise(name)
    figures = ski_area_figures(ski_areas)
    return None, {
        "id": F.col("id"), "name": short, "status": F.col("status"),
        "downhillDistance": figures["downhill_distance_km"],
        "nordicDistance": figures["nordic_distance_km"],
        "maxElevation": figures["max_elevation_m"],
        "vertical": figures["vertical_m"],
        "has_downhill": F.array_contains("activities", "downhill"),
        "has_nordic": F.array_contains("activities", "nordic"),
        "geometry": F.when(is_poly, interior_point_udf("geometry"))
                     .otherwise(F.col("geometry")),
    }


def spot_columns(spots: DataFrame) -> tuple[None, dict[str, Column]]:
    """Spots → render rows (MapboxGLFormatter.ts:153-195): common
    id/spotType/skiAreas plus the lift-station or crossing extras."""
    lift_station = F.col("spot_type") == "lift_station"
    crossing = F.col("spot_type") == "crossing"
    lift_id = (F.col("associated_lift_id")
               if "associated_lift_id" in spots.columns else F.lit(None))
    return None, {
        "id": F.col("id"), "spotType": F.col("spot_type"),
        "skiAreas": F.col("ski_areas"),
        "name": F.when(lift_station, F.col("name")),
        "liftId": F.when(lift_station, lift_id),
        "position": F.when(lift_station, F.col("position")),
        "entry": F.when(lift_station, F.col("entry")),
        "exit": F.when(lift_station, F.col("exit")),
        "dismount": F.when(crossing, F.col("dismount")),
        "geometry": F.col("geometry"),
    }


LAYER_COLUMNS = {"runs": run_columns, "lifts": lift_columns,
                 "ski_areas": ski_area_columns, "spots": spot_columns}


def mapbox_feature(layer: str, df: DataFrame) -> Column:
    """The layer's Mapbox GeoJSON Feature string; null for a row the
    projection drops."""
    keep, cols = LAYER_COLUMNS[layer](df)
    geometry = cols.pop("geometry")
    feat = feature_expr(cols, geometry)
    return feat if keep is None else F.when(keep, feat)


def _frame(df: DataFrame, keep: Column | None,
           cols: dict[str, Column]) -> DataFrame:
    if keep is not None:
        df = df.filter(keep)
    return df.select(*[c.alias(n) for n, c in cols.items()])


def mapbox_runs(runs: DataFrame) -> DataFrame:
    return _frame(runs, *run_columns(runs))


def mapbox_lifts(lifts: DataFrame) -> DataFrame:
    return _frame(lifts, *lift_columns(lifts))


def mapbox_ski_areas(ski_areas: DataFrame) -> DataFrame:
    return _frame(ski_areas, *ski_area_columns(ski_areas))


def mapbox_spots(spots: DataFrame) -> DataFrame:
    return _frame(spots, *spot_columns(spots))

"""K2 — CSV sink with the reference's four fixed schemas
(src/transforms/CSVFormatter.ts:125-140 headers, :172-293 derived columns).

All derived columns are Catalyst expressions except the elevation metrics
(3D-geometry pandas UDF); place roll-ups are
``array_sort(array_distinct(transform(places, ...)))`` joined with ';'
(P13/A9, CSVFormatter.ts:338-355).  The ``*_fields`` projections return
one column per header of ``*_HEADERS``, the only source of header names.
``CsvFile`` renders each row as ``to_csv(struct(fields))`` — the Univocity
generator and defaults of ``DataFrameWriter.csv``, so quoting and escaping
are Spark's — and the driver writes the lines under one header from the
layer's id-ordered fetch (``sinks.export``).
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from ..functions.geometry import centroid_udf, elevation_metrics_udf
from .export import SkiAreaRefs, write_layer

# Exact reference headers (CSVFormatter.ts:125-140).
RUN_HEADERS = ("name,ref,countries,regions,localities,ski_area_names,"
               "difficulty,color,oneway,lit,gladed,patrolled,grooming,uses,"
               "inclined_length_m,descent_m,ascent_m,average_pitch_%,"
               "max_pitch_%,min_elevation_m,max_elevation_m,"
               "difficulty_convention,wikidata_id,websites,openskimap,id,"
               "geometry,lat,lng,ski_area_ids,sources,description").split(",")
LIFT_HEADERS = ("name,ref,ref_fr_cairn,lift_type,status,access,countries,"
                "regions,localities,ski_area_names,oneway,duration_sec,"
                "capacity,occupancy,detachable,bubble,heating,"
                "inclined_length_m,vertical_m,speed_m_per_s,"
                "vertical_speed_m_per_s,min_elevation_m,max_elevation_m,"
                "overall_pitch_%,wikidata_id,websites,openskimap,id,geometry,"
                "lat,lng,ski_area_ids,sources,description").split(",")
SKI_AREA_HEADERS = ("name,countries,regions,localities,status,has_downhill,"
                    "has_nordic,downhill_distance_km,nordic_distance_km,"
                    "vertical_m,min_elevation_m,max_elevation_m,lift_count,"
                    "surface_lifts_count,run_convention,wikidata_id,websites,"
                    "openskimap,id,geometry,lat,lng,sources").split(",")
SPOT_HEADERS = ("id,spot_type,longitude,latitude,sources,ski_areas,countries,"
                "regions,localities,dismount,name,position,entry,"
                "exit").split(",")

# Run color by (convention, difficulty) — the published openskidata-format
# color conventions (green/blue/red/black/orange, grey when unknown).
_COLOR = {
    "europe": {"novice": "green", "easy": "blue", "intermediate": "red",
               "advanced": "black", "expert": "black",
               "freeride": "orange", "extreme": "orange"},
    "north_america": {"novice": "green", "easy": "green",
                      "intermediate": "blue", "advanced": "black",
                      "expert": "black", "freeride": "orange",
                      "extreme": "orange"},
    "japan": {"novice": "green", "easy": "green", "intermediate": "red",
              "advanced": "black", "expert": "black",
              "freeride": "orange", "extreme": "orange"},
}

SURFACE_LIFT_TYPES = ("t-bar", "j-bar", "platter", "rope_tow", "drag_lift",
                      "magic_carpet")

# code fields of the reference Geocoder's nested place struct
_NESTED_PLACE_CODES = {"iso3166_1": "iso3166_1Alpha2",
                       "iso3166_2": "iso3166_2"}


def run_color(convention: Column, difficulty: Column) -> Column:
    expr = F.lit("grey")
    for conv, table in _COLOR.items():
        for diff, color in table.items():
            expr = F.when((convention == conv) & (difficulty == diff),
                          F.lit(color)).otherwise(expr)
    return expr


def place_values(df: DataFrame, field: str) -> Column | None:
    """``field`` of each of ``df``'s places: a name (``country``,
    ``region``, ``locality``) or a code (``iso3166_1``, ``iso3166_2``);
    ``None`` when ``df`` has no places.

    Supports both place shapes: the engine's flat
    ``{iso3166_1, iso3166_2, country, region, locality}`` and the
    reference Geocoder's nested ``{iso3166_1Alpha2, iso3166_2, localized:
    {en: {country, region, locality}}}`` (Geocoder.ts:45-55) — chosen by
    schema inspection, so the projection stays a static Catalyst
    expression."""
    if "places" not in df.columns:
        return None
    elem = df.schema["places"].dataType
    nested = (isinstance(elem, ArrayType)
              and isinstance(elem.elementType, StructType)
              and "localized" in elem.elementType.fieldNames())
    if not nested:
        return F.transform("places", lambda p: p[field])
    if field in _NESTED_PLACE_CODES:
        return F.transform("places", lambda p: p[_NESTED_PLACE_CODES[field]])
    return F.transform("places", lambda p: p["localized"]["en"][field])


def _place_rollup(df: DataFrame, field: str) -> Column:
    """Sorted-unique ';'-joined place names, "" without places
    (CSVFormatter.ts:338-355)."""
    vals = place_values(df, field)
    if vals is None:
        return F.lit("")
    return F.concat_ws(";", F.array_sort(F.array_distinct(
        F.filter(vals, lambda v: v.isNotNull()))))


def _common(df: DataFrame):
    center = F.from_json(
        F.get_json_object(centroid_udf("geometry"), "$.coordinates"),
        "array<double>")
    return {
        "countries": _place_rollup(df, "country"),
        "regions": _place_rollup(df, "region"),
        "localities": _place_rollup(df, "locality"),
        "openskimap": F.concat(F.lit("https://openskimap.org/?obj="),
                               F.col("id")),
        "geometry": F.get_json_object("geometry", "$.type"),
        # toFixed(6), no thousands separators (CSVFormatter.ts:164-165)
        "lat": F.format_string("%.6f", center[1]),
        "lng": F.format_string("%.6f", center[0]),
        # sorted, SPACE-joined (formatWebsites/formatSources,
        # CSVFormatter.ts:358-367)
        "websites": F.concat_ws(" ", F.array_sort("websites"))
            if "websites" in df.columns else F.lit(""),
        "sources": F.concat_ws(" ", F.array_sort(F.transform(
            "sources", _source_url))),
    }


def _source_url(s: Column) -> Column:
    """getSourceURL (openskidata-format): per-source canonical URL."""
    return (F.when(s["type"] == "openstreetmap",
                   F.concat(F.lit("https://www.openstreetmap.org/"), s["id"]))
            .when(s["type"] == "skimap.org",
                  F.concat(F.lit("https://www.skimap.org/SkiAreas/view/"),
                           s["id"]))
            .otherwise(s["id"]))


def _bool(col: Column) -> Column:
    """formatBoolean (CSVFormatter.ts:319-322): yes / no / empty."""
    return (F.when(col.isNull(), F.lit(""))
            .when(col.cast("boolean"), F.lit("yes")).otherwise(F.lit("no")))


def _sa_names(df: DataFrame, refs: SkiAreaRefs | None) -> Column:
    """J8 export resolution (FeatureExporter.ts:148-161): the feature's
    ski-area names, sorted-unique ','-joined (extractSkiAreaNames — the
    CSV generator quotes the comma-bearing field, = escapeField).  Without
    a ski-area table the field stays empty (the reference pre-clustering
    shape)."""
    if refs is None or "ski_areas" not in df.columns:
        return F.lit("")
    return refs.names(F.col("ski_areas"))


def _fields(headers: list[str], exprs: list[Column]) -> list[Column]:
    return [e.alias(h) for h, e in zip(headers, exprs, strict=True)]


def run_fields(runs: DataFrame, refs: SkiAreaRefs | None) -> list[Column]:
    """Run layer → the 32 columns of ``RUN_HEADERS``."""
    c = _common(runs)
    m = elevation_metrics_udf("geometry")
    # averagePitchInPercent is the GRADE RATIO toFixed(2) — the reference
    # vector prints 0.96 for a 200 m drop over 208 m (CSVFormatter.unit.
    # test.ts:171), despite the _% header
    pct = lambda col: F.format_string("%.2f", col)  # noqa: E731
    # toFixed() integers / toFixed(2) percents (CSVFormatter.ts:194-200)
    whole = lambda col: F.format_string("%.0f", col)  # noqa: E731
    return _fields(RUN_HEADERS, [
        F.col("name"), F.col("ref"),
        c["countries"], c["regions"], c["localities"],
        _sa_names(runs, refs),
        F.col("difficulty"),
        run_color(F.col("difficulty_convention"), F.col("difficulty")),
        _bool(F.col("oneway")), _bool(F.col("lit")),
        _bool(F.col("gladed")), _bool(F.col("patrolled")),
        F.col("grooming"),
        F.concat_ws(";", "uses"),
        whole(m["inclined_length_m"]), whole(m["descent_m"]),
        whole(m["ascent_m"]),
        pct(m["average_pitch"]), pct(m["max_pitch"]),
        whole(m["min_elevation_m"]), whole(m["max_elevation_m"]),
        F.col("difficulty_convention"), F.col("wikidata_id"),
        c["websites"], c["openskimap"], F.col("id"), c["geometry"],
        c["lat"], c["lng"],
        F.concat_ws(";", F.array_sort("ski_areas")),
        c["sources"], F.col("description"),
    ])


def lift_fields(lifts: DataFrame, refs: SkiAreaRefs | None) -> list[Column]:
    """Lift layer → the 34 columns of ``LIFT_HEADERS``."""
    c = _common(lifts)
    m = elevation_metrics_udf("geometry")
    vertical = m["max_elevation_m"] - m["min_elevation_m"]
    duration = F.col("duration")
    # toFixed precisions per CSVFormatter.ts:233-239
    speed = F.when(duration > 0, F.format_string(
        "%.1f", m["inclined_length_m"] / duration))
    vspeed = F.when(duration > 0,
                    F.format_string("%.2f", vertical / duration))
    pitch = F.when(m["inclined_length_m"] > 0, F.format_string(
        "%.2f", vertical / m["inclined_length_m"]))
    return _fields(LIFT_HEADERS, [
        F.col("name"), F.col("ref"),
        F.col("ref_fr_cairn"), F.col("lift_type"), F.col("status"),
        F.col("access"),
        c["countries"], c["regions"], c["localities"],
        _sa_names(lifts, refs),
        _bool(F.col("oneway")),
        # falsy -> empty (CSVFormatter.ts:227-229)
        F.when(duration > 0, duration),
        F.when(F.col("capacity") > 0, F.col("capacity")),
        F.when(F.col("occupancy") > 0, F.col("occupancy")),
        _bool(F.col("detachable")), _bool(F.col("bubble")),
        _bool(F.col("heating")),
        F.format_string("%.0f", m["inclined_length_m"]),
        F.format_string("%.0f", vertical),
        speed, vspeed,
        F.format_string("%.0f", m["min_elevation_m"]),
        F.format_string("%.0f", m["max_elevation_m"]),
        pitch,
        F.col("wikidata_id"), c["websites"], c["openskimap"], F.col("id"),
        c["geometry"], c["lat"], c["lng"],
        F.concat_ws(";", F.array_sort("ski_areas")),
        c["sources"], F.col("description"),
    ])


def ski_area_figures(ski_areas: DataFrame) -> dict[str, Column]:
    """The figures the CSV and Mapbox exports derive from the A2
    statistics struct (CSVFormatter.ts:263-283): run distance per activity
    in whole km, empty when the activity is absent; vertical, min and max
    elevation in whole metres (Math.round), empty on a zero elevation.
    All null without a ``statistics`` column."""
    names = ("downhill_distance_km", "nordic_distance_km", "vertical_m",
             "min_elevation_m", "max_elevation_m")
    if "statistics" not in ski_areas.columns:
        return dict.fromkeys(names, F.lit(None).cast("long"))
    stats = F.col("statistics")

    def distance(act: str) -> Column:
        by_diff = F.element_at(stats["runs"]["by_activity"], act)
        total = F.aggregate(F.map_values(by_diff), F.lit(0.0),
                            lambda acc, x: acc + x["length_in_km"])
        return F.when(by_diff.isNotNull(), F.round(total, 0).cast("long"))

    low, high = stats["min_elevation"], stats["max_elevation"]
    return dict(zip(names, (
        distance("downhill"), distance("nordic"),
        F.when((high != 0) & (low != 0), F.round(high - low, 0).cast("long")),
        F.when(low != 0, F.round(low, 0).cast("long")),
        F.when(high != 0, F.round(high, 0).cast("long")))))


def ski_area_fields(ski_areas: DataFrame,
                    refs: SkiAreaRefs | None = None) -> list[Column]:
    """Ski area layer → the 23 columns of ``SKI_AREA_HEADERS``: activity
    flags + distances/lift counts from the A2 statistics struct (A8 —
    aggregate over the map values, no re-scan of the fact layers;
    CSVFormatter.ts:379-408).  Ski areas name no ski areas, so ``refs``
    is unused."""
    c = _common(ski_areas)
    figures = ski_area_figures(ski_areas)
    # a ski area without lift statistics counts null lifts: empty fields
    by_type = F.col("statistics")["lifts"]["by_type"]
    n_lifts = F.aggregate(F.map_values(by_type), F.lit(0).cast("long"),
                          lambda acc, x: acc + x["count"])
    n_surface = F.aggregate(
        F.map_entries(by_type), F.lit(0).cast("long"),
        lambda acc, e: acc + F.when(
            e["key"].isin(*SURFACE_LIFT_TYPES), e["value"]["count"])
            .otherwise(F.lit(0).cast("long")))

    return _fields(SKI_AREA_HEADERS, [
        F.col("name"),
        c["countries"], c["regions"], c["localities"],
        F.col("status"),
        _bool(F.array_contains("activities", "downhill")),
        _bool(F.array_contains("activities", "nordic")),
        figures["downhill_distance_km"], figures["nordic_distance_km"],
        figures["vertical_m"], figures["min_elevation_m"],
        figures["max_elevation_m"],
        # empty on zero counts (CSVFormatter.ts:274-283)
        F.when(n_lifts > 0, n_lifts),
        F.when(n_surface > 0, n_surface),
        F.col("run_convention"), F.col("wikidata_id"),
        c["websites"], c["openskimap"], F.col("id"), c["geometry"],
        c["lat"], c["lng"], c["sources"],
    ])


def spot_fields(spots: DataFrame, refs: SkiAreaRefs | None) -> list[Column]:
    """Spot layer → the 14 columns of ``SPOT_HEADERS``."""
    c = _common(spots)
    center = F.from_json(
        F.get_json_object("geometry", "$.coordinates"), "array<double>")
    return _fields(SPOT_HEADERS, [
        F.col("id"), F.col("spot_type"),
        F.format_string("%.6f", center[0]),
        F.format_string("%.6f", center[1]),
        c["sources"],
        # spot ski_areas column carries resolved NAMES (formatSpot uses
        # extractSkiAreaNames, CSVFormatter.ts:416)
        _sa_names(spots, refs),
        c["countries"], c["regions"], c["localities"],
        F.col("dismount"), F.col("name"), F.col("position"),
        _bool(F.col("entry")), _bool(F.col("exit")),
    ])


# layer name -> (header, projection) of the four reference CSV files
LAYER_FIELDS = {
    "runs": (RUN_HEADERS, run_fields),
    "lifts": (LIFT_HEADERS, lift_fields),
    "spots": (SPOT_HEADERS, spot_fields),
    "ski_areas": (SKI_AREA_HEADERS, ski_area_fields),
}


def run_csv(runs: DataFrame,
            ski_areas: DataFrame | None = None) -> DataFrame:
    """Run layer → the reference CSV schema.  Pass the clustered
    ``ski_areas`` layer to resolve ski_area_names (J8)."""
    return runs.select(*run_fields(runs, SkiAreaRefs.resolve(ski_areas)))


def lift_csv(lifts: DataFrame,
             ski_areas: DataFrame | None = None) -> DataFrame:
    return lifts.select(*lift_fields(lifts, SkiAreaRefs.resolve(ski_areas)))


def ski_area_csv(ski_areas: DataFrame) -> DataFrame:
    return ski_areas.select(*ski_area_fields(ski_areas))


def spot_csv(spots: DataFrame,
             ski_areas: DataFrame | None = None) -> DataFrame:
    return spots.select(*spot_fields(spots, SkiAreaRefs.resolve(ski_areas)))


class CsvFile:
    """``{path}/part-00000.csv``: the header line, then one line per row
    rendered by ``to_csv`` (quoting as ``DataFrameWriter.csv``); a layer
    without rows still gets its header.  Replaces the directory."""

    def __init__(self, path: str, header: list[str], fields: list[Column]):
        self.path, self.header = path, header
        self.columns = [F.to_csv(F.struct(*fields))]

    def write(self, rows: Iterable[tuple]) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        with open(os.path.join(self.path, "part-00000.csv"), "w",
                  encoding="utf-8", newline="") as f:
            f.write(",".join(self.header) + "\n")
            for (line,) in rows:
                f.write(line + "\n")


def write_csv(df: DataFrame, path: str) -> None:
    """One CSV file of every column of ``df`` (e.g. ``run_csv``'s output),
    id-ordered when ``df`` has an ``id``."""
    write_layer(df, [CsvFile(path, df.columns,
                             [F.col(c) for c in df.columns])])

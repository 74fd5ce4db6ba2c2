"""Phase-2 feature formatters (reference P1–P9, P14).

Input: bronze DataFrames with OSM tag maps (``map<string,string>``) and
GeoJSON-string geometry (schemas in FIXTURES.md §1).  Output: the typed
silver layers of FIXTURES.md §2.  Everything except the geometry kernels
is Catalyst expressions, and each layer is one pass over its input: one
scan, with its tag filters pushed down to it, and one Arrow-batched Python
UDF evaluation (runs: validity + Multi* split; lifts and OSM ski areas:
validity; spots: centroid).  The only shuffle is J1's window over ``id``
(``attach_site_ski_areas``); the site membership it joins is broadcast.

Reference parity (semantics, not implementation):
- formatRun       -> src/transforms/RunFormatter.ts:30-200
- formatLift      -> src/transforms/LiftFormatter.ts:27-160
- formatSkiArea   -> src/transforms/SkiAreaFormatter.ts:66-199
- formatSpots     -> src/transforms/SpotFormatter.ts:30-192
- status parsing  -> src/transforms/Status.ts:9-58 (functions/osm.py)
- name/ref/bool   -> src/transforms/OSMTransforms.ts (functions/osm.py)
- feature ids     -> src/transforms/FeatureBuilder.ts:4-21 (functions/hashing.py)

Enum domains follow the published ``openskidata-format`` package.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..functions import osm
from ..functions.geometry import (centroid_udf, geometry_valid_udf,
                                  parse_valid_geometry)
from ..functions.hashing import feature_id

# Published openskidata-format enum domains.
RUN_USES = ("downhill", "nordic", "skitour", "sled", "hike", "sleigh",
            "ice_skate", "snow_park", "playground", "connection", "fatbike")
RUN_DIFFICULTIES = ("novice", "easy", "intermediate", "advanced", "expert",
                    "freeride", "extreme")
RUN_GROOMING = ("classic", "mogul", "skating", "classic+skating", "scooter",
                "backcountry")
LIFT_TYPES = ("cable_car", "gondola", "hybrid", "mixed_lift", "chair_lift",
              "drag_lift", "t-bar", "j-bar", "platter", "rope_tow",
              "magic_carpet", "funicular", "railway")
# railway values coerced to LiftType "railway" (LiftFormatter.ts:117-127)
RAILWAY_TO_RAILWAY = ("narrow_gauge", "rail", "light_rail", "tram", "subway",
                      "monorail")


def _osm_source(df_type: Column, df_id: Column) -> Column:
    """sources = [{type: "openstreetmap", id: "<osm_type>/<osm_id>"}]
    (osmID, src/features/OSMGeoJSONProperties.ts:19-21)."""
    return F.array(F.struct(
        F.lit("openstreetmap").alias("type"),
        F.concat_ws("/", df_type, df_id).alias("id")))


def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


# Station features attached to lifts by clustering pass 8
# (FeatureExporter.ts:95-114: geometry + spot properties per station).
STATION_FIELDS = {"id": "string", "name": "string", "position": "string",
                  "entry": "boolean", "exit": "boolean", "geometry": "string"}
STATION_ARRAY_DDL = "array<struct<{}>>".format(
    ",".join(f"{k}:{t}" for k, t in STATION_FIELDS.items()))


def _websites(tags: Column) -> Column:
    return F.filter(F.array(osm.tag(tags, "website")), lambda v: v.isNotNull())


def run_difficulty_convention(geometry_json: Column) -> Column:
    """Difficulty color convention by location (openskidata-format
    ``getRunDifficultyConvention``): Japan bbox → "japan", the Americas →
    "north_america", else "europe".  Decided on the geometry's first
    position — a pure JSON-path expression, no UDF."""
    first = F.get_json_object(geometry_json, "$.coordinates")
    # First "number" in the coordinates array is the first position's lon;
    # second is its lat — regardless of nesting depth.
    nums = F.regexp_extract_all(first, F.lit(r"-?[0-9]+(?:\.[0-9]+)?(?:[eE]-?[0-9]+)?"), 0)
    # F.get is null-safe on short/empty arrays — element_at(nums, 1) would
    # throw under ANSI mode for a numberless coordinates string.
    lon = F.get(nums, 0).cast("double")
    lat = F.get(nums, 1).cast("double")
    return (F.when((lon >= 122.0) & (lon <= 154.0)
                   & (lat >= 20.0) & (lat <= 46.0), F.lit("japan"))
             .when((lon >= -180.0) & (lon < -30.0), F.lit("north_america"))
             .otherwise(F.lit("europe")))


# ---------------------------------------------------------------------------
# Geometry splitting (P1's MultiPolygon→Polygon / MultiLineString→LineString)
# ---------------------------------------------------------------------------

@F.pandas_udf(ArrayType(StringType()))
def split_multi_geometry_udf(geojson: pd.Series) -> pd.Series:
    """1→N split of Multi* geometries into canonical single-geometry JSON
    (compact separators, preserved coordinate order) — explode the result.
    Single geometries pass through re-canonicalized, so feature ids hash
    identical bytes for equal geometries.  A geometry that fails the P8
    validity check (``parse_valid_geometry``) splits into no parts, so the
    explode drops it: runs pay for one Python evaluation, not two."""
    def split(s):
        g = parse_valid_geometry(s)
        if g is None:
            return []
        t = g.get("type")
        if t == "MultiPolygon":
            parts = [{"type": "Polygon", "coordinates": c}
                     for c in g["coordinates"]]
        elif t == "MultiLineString":
            parts = [{"type": "LineString", "coordinates": c}
                     for c in g["coordinates"]]
        else:
            parts = [g]
        return [json.dumps(p, separators=(",", ":"), sort_keys=True)
                for p in parts]
    return geojson.map(split)


# ---------------------------------------------------------------------------
# P1 — formatRun
# ---------------------------------------------------------------------------

def format_runs(df: DataFrame) -> DataFrame:
    """InputRunFeature → run layer (RunFormatter.ts:30-200).

    Drops: Point geometry, invalid geometry, no recognized uses, status not
    "operating" (incl. the ``piste:abandoned=yes`` special case).
    Splits Multi* geometries into one feature per part (shared properties);
    the split UDF also drops invalid geometries.
    """
    tags = F.col("tags")
    status, piste_type = osm.status_and_value(tags, "piste:type")
    status = F.when(osm.tag(tags, "piste:abandoned") == "yes",
                    F.lit("abandoned")).otherwise(status)
    uses = F.filter(
        F.transform(F.split(F.coalesce(piste_type, F.lit("")), ";"),
                    lambda u: F.lower(F.trim(u))),
        lambda u: u.isin(*RUN_USES))

    ref = osm.osm_ref(tags)
    difficulty_raw = osm.tag(tags, "piste:difficulty")
    difficulty = F.when(difficulty_raw.isin(*RUN_DIFFICULTIES), difficulty_raw)

    # Grooming (RunFormatter.ts:154-182): ';'→'+' normalization; the
    # {classic, skating} set maps to "classic+skating"; else literal enum
    # value; hardest difficulties and grooming=no default to backcountry.
    grooming_raw = F.regexp_replace(osm.tag(tags, "piste:grooming"), ";", r"\+")
    grooming_set = F.array_sort(F.array_distinct(F.split(grooming_raw, r"\+")))
    grooming = (
        F.when(F.array_contains(grooming_set, "classic")
               & F.array_contains(grooming_set, "skating"),
               F.lit("classic+skating"))
        .when(grooming_raw.isin(*RUN_GROOMING), grooming_raw)
        .when(difficulty_raw.isin("expert", "freeride", "extreme"),
              F.lit("backcountry"))
        .when(osm.tag(tags, "piste:grooming") == "no", F.lit("backcountry"))
    )

    oneway = F.coalesce(
        osm.osm_boolean(tags, "piste:oneway"),
        osm.osm_boolean(tags, "oneway"),
        F.when(F.array_contains(uses, "downhill"), F.lit(True)))

    gladed = F.coalesce(
        osm.osm_boolean(tags, "piste:gladed"),
        osm.osm_boolean(tags, "gladed"),
        F.when((osm.tag(tags, "natural") == "wood")
               | (osm.tag(tags, "landuse") == "forest"), F.lit(True)))

    geom_type = F.get_json_object(F.col("geometry"), "$.type")
    kept = (
        df.withColumn("__status", status)
        .withColumn("uses", uses)
        .filter(geom_type != "Point")
        .filter(F.size(F.col("uses")) > 0)
        .filter(F.col("__status") == "operating")
    )

    # Tag-derived properties are computed BEFORE the Multi*-split: they
    # don't depend on geometry, Multi* parts share them (so this also
    # evaluates the tag parse once per feature, not once per part), and —
    # decisive for codegen — a projection fused into the post-explode
    # consume() path cannot be method-split, and this one overflows
    # janino's 64 KB method limit there (whole stage silently falls back
    # to interpreted mode).  Projected pre-Generate it splits fine and
    # the run formatter stays in whole-stage codegen.
    pre = kept.select(
        F.col("uses"),
        osm.osm_name(tags, "piste:name", "name", ref).alias("name"),
        ref.alias("ref"),
        F.coalesce(osm.tag(tags, "piste:description"),
                   osm.tag(tags, "description")).alias("description"),
        difficulty.alias("difficulty"),
        oneway.alias("oneway"),
        gladed.alias("gladed"),
        F.coalesce(osm.osm_boolean(tags, "piste:patrolled"),
                   osm.osm_boolean(tags, "patrolled")).alias("patrolled"),
        osm.osm_boolean(tags, "piste:snowmaking").alias("snowmaking"),
        osm.osm_boolean(tags, "piste:snowfarming").alias("snowfarming"),
        # Any tunnel tag → true (RunFormatter.ts:67)
        F.when(osm.tag(tags, "tunnel").isNotNull(), F.lit(True))
         .alias("tunnel"),
        F.coalesce(osm.osm_boolean(tags, "piste:lit"),
                   osm.osm_boolean(tags, "lit")).alias("lit"),
        grooming.alias("grooming"),
        _empty_str_array().alias("ski_areas"),
        F.col("__status").alias("status"),
        _osm_source(F.col("osm_type"), F.col("osm_id")).alias("sources"),
        _websites(tags).alias("websites"),
        osm.osm_first_value(tags, "wikidata").alias("wikidata_id"),
        F.col("geometry"),
    )

    exploded = pre.withColumn(
        "geometry", F.explode(split_multi_geometry_udf(F.col("geometry"))))

    return exploded.select(
        feature_id(F.lit("run"), F.col("geometry")).alias("id"),
        F.lit("run").alias("feature_type"),
        "uses", "name", "ref", "description", "difficulty",
        run_difficulty_convention(F.col("geometry"))
            .alias("difficulty_convention"),
        "oneway", "gladed", "patrolled", "snowmaking", "snowfarming",
        "tunnel", "lit", "grooming", "ski_areas", "status", "sources",
        "websites", "wikidata_id", "geometry",
    )


# ---------------------------------------------------------------------------
# P2 — formatLift
# ---------------------------------------------------------------------------

def format_lifts(df: DataFrame) -> DataFrame:
    """InputLiftFeature → lift layer (LiftFormatter.ts:27-160).

    Drops: non-(Multi)LineString or invalid geometry; freight/industrial/
    forestry/no-access services; unknown lift type or unresolvable status.
    """
    tags = F.col("tags")

    access_denied = (
        (osm.tag(tags, "passenger") == "no")
        | osm.tag(tags, "access").isin("forestry", "no")
        | osm.tag(tags, "foot").isin("no", "private")
        | osm.tag(tags, "usage").isin("freight", "industrial")
        | (osm.tag(tags, "railway:traffic_mode") == "freight")
    )

    a_status, a_value = osm.status_and_value(tags, "aerialway")
    r_status, r_value = osm.status_and_value(tags, "railway")
    r_value = F.when(r_value.isin(*RAILWAY_TO_RAILWAY), F.lit("railway")) \
               .otherwise(r_value)
    status = F.when(a_value.isNotNull(), a_status).otherwise(r_status)
    value = F.coalesce(a_value, r_value)
    lift_type = F.when(value.isin(*LIFT_TYPES), value)

    # "mm:ss" → seconds; plain number → minutes, rounded half-up to seconds.
    dur = osm.tag(tags, "aerialway:duration")
    duration = (
        F.when(dur.rlike(r"^-?[0-9]+(\.[0-9]+)?$"),
               F.round(dur.cast("double") * 60, 0).cast("int"))
        .when(dur.rlike(r"^[0-9]+:[0-9]+$"),
              (F.split(dur, ":")[0].cast("int") * 60
               + F.split(dur, ":")[1].cast("int")))
    )

    geom_type = F.get_json_object(F.col("geometry"), "$.type")
    ref = osm.osm_ref(tags)

    kept = (
        df.filter(geom_type.isin("LineString", "MultiLineString"))
        .filter(geometry_valid_udf(F.col("geometry")))
        .filter(~F.coalesce(access_denied, F.lit(False)))
        .withColumn("__status", status)
        .withColumn("lift_type", lift_type)
        .filter(F.col("__status").isNotNull() & F.col("lift_type").isNotNull())
    )

    return kept.select(
        feature_id(F.lit("lift"), F.col("geometry")).alias("id"),
        F.lit("lift").alias("feature_type"),
        F.col("lift_type"),
        F.col("__status").alias("status"),
        osm.osm_name(tags, "name", None, ref).alias("name"),
        osm.osm_boolean(tags, "oneway").alias("oneway"),
        ref.alias("ref"),
        osm.osm_first_value(tags, "ref:FR:CAIRN").alias("ref_fr_cairn"),
        osm.tag(tags, "description").alias("description"),
        osm.osm_number(tags, "aerialway:occupancy").cast("int").alias("occupancy"),
        osm.osm_number(tags, "aerialway:capacity").cast("int").alias("capacity"),
        duration.alias("duration"),
        osm.osm_boolean(tags, "aerialway:bubble").alias("bubble"),
        osm.osm_boolean(tags, "aerialway:heating").alias("heating"),
        osm.osm_boolean(tags, "aerialway:detachable").alias("detachable"),
        F.when(osm.tag(tags, "tunnel").isNotNull(), F.lit(True)).alias("tunnel"),
        F.when(osm.tag(tags, "access") == "private", F.lit("private"))
         .alias("access"),
        F.array().cast(STATION_ARRAY_DDL).alias("stations"),
        _empty_str_array().alias("ski_areas"),
        _osm_source(F.col("osm_type"), F.col("osm_id")).alias("sources"),
        _websites(tags).alias("websites"),
        osm.osm_first_value(tags, "wikidata").alias("wikidata_id"),
        F.col("geometry"),
    )


# ---------------------------------------------------------------------------
# P3 — formatSkiArea (three input kinds, unioned)
# ---------------------------------------------------------------------------

def format_ski_areas_osm(df: DataFrame) -> DataFrame:
    """OSM ``landuse=winter_sports`` polygons (SkiAreaFormatter.ts:67-111):
    drop non-ski sport tags, non-polygons, unresolvable lifecycle status."""
    tags = F.col("tags")
    status, _ = osm.status_and_value(tags, "landuse")
    geom_type = F.get_json_object(F.col("geometry"), "$.type")
    sport = osm.tag(tags, "sport")
    kept = (
        df.filter(sport.isNull() | sport.isin("skiing", "ski"))
        .filter(geom_type.isin("Polygon", "MultiPolygon"))
        .filter(geometry_valid_udf(F.col("geometry")))
        .withColumn("__status", status)
        .filter(F.col("__status").isNotNull())
    )
    return kept.select(
        feature_id(F.lit("skiArea"), F.col("geometry")).alias("id"),
        F.lit("skiArea").alias("feature_type"),
        osm.osm_name(tags, "name").alias("name"),
        _osm_source(F.col("osm_type"), F.col("osm_id")).alias("sources"),
        _empty_str_array().alias("activities"),
        F.col("__status").alias("status"),
        _websites(tags).alias("websites"),
        osm.osm_first_value(tags, "wikidata").alias("wikidata_id"),
        run_difficulty_convention(F.col("geometry")).alias("run_convention"),
        F.col("geometry"),
    )


def format_ski_areas_sites(df: DataFrame) -> DataFrame:
    """OSM ``site=piste`` relations (SkiAreaFormatter.ts:113-140): real
    geometry is unknown until clustering — a placeholder Point
    [360, 360, site_id] keeps the content-hash id stable
    (PlaceholderSiteGeometry.ts:3-5)."""
    tags = F.col("tags")
    status, _ = osm.status_and_value(tags, "site")
    placeholder = F.concat(
        F.lit('{"coordinates":[360,360,'), F.col("site_id"),
        F.lit('],"type":"Point"}'))
    kept = (df.withColumn("__status", status)
              .filter(F.col("__status").isNotNull())
              .withColumn("geometry", placeholder))
    return kept.select(
        feature_id(F.lit("skiArea"), F.col("geometry")).alias("id"),
        F.lit("skiArea").alias("feature_type"),
        osm.osm_name(tags, "name").alias("name"),
        _osm_source(F.lit("relation"), F.col("site_id")).alias("sources"),
        _empty_str_array().alias("activities"),
        F.col("__status").alias("status"),
        _websites(tags).alias("websites"),
        osm.osm_first_value(tags, "wikidata").alias("wikidata_id"),
        # Bogus like the reference — fixed after clustering assigns geometry.
        F.lit("north_america").alias("run_convention"),
        F.col("geometry"),
    )


def format_ski_areas_skimap(df: DataFrame) -> DataFrame:
    """Skimap.org point features (SkiAreaFormatter.ts:142-199)."""
    return df.select(
        feature_id(F.lit("skiArea"), F.col("geometry")).alias("id"),
        F.lit("skiArea").alias("feature_type"),
        F.col("name"),
        F.array(F.struct(F.lit("skimap.org").alias("type"),
                         F.col("id").alias("id"))).alias("sources"),
        F.coalesce(F.col("activities"), _empty_str_array()).alias("activities"),
        F.col("status"),
        F.filter(F.array(F.col("official_website")),
                 lambda v: v.isNotNull()).alias("websites"),
        F.lit(None).cast("string").alias("wikidata_id"),
        run_difficulty_convention(F.col("geometry")).alias("run_convention"),
        F.col("geometry"),
    )


def format_ski_areas(osm_landuse: DataFrame, sites: DataFrame,
                     skimap: DataFrame) -> DataFrame:
    """O4 union of the three ski-area input kinds
    (PrepareGeoJSON.ts:105-117)."""
    return (format_ski_areas_osm(osm_landuse)
            .unionByName(format_ski_areas_sites(sites))
            .unionByName(format_ski_areas_skimap(skimap)))


# ---------------------------------------------------------------------------
# P4 — formatSpots (1→0..5 parallel subtype extractors)
# ---------------------------------------------------------------------------

def format_spots(df: DataFrame) -> DataFrame:
    """InputSpotFeature → spot layer (SpotFormatter.ts:30-192): geometry →
    centroid Point; five independent subtype extractors — a feature can
    emit several spots.  Each extractor is a ``when(cond, struct)``
    candidate; the centroid is computed once per feature with at least
    one candidate, then the non-null candidates explode into spots."""
    tags = F.col("tags")

    def spot(cond: Column, spot_type: str, **extra: Column) -> Column:
        cols = {
            "dismount": F.lit(None).cast("string"),
            "name": F.lit(None).cast("string"),
            "lift_id": F.lit(None).cast("string"),
            "position": F.lit(None).cast("string"),
            "entry": F.lit(None).cast("boolean"),
            "exit": F.lit(None).cast("boolean"),
        }
        cols.update(extra)
        return F.when(cond, F.struct(
            F.lit(spot_type).alias("spot_type"),
            *(c.alias(k) for k, c in cols.items())))

    dismount = osm.tag(tags, "piste:dismount")
    station_pos = osm.tag(tags, "aerialway:station")
    access = osm.tag(tags, "aerialway:access")
    amenity = osm.tag(tags, "amenity") == "avalanche_transceiver"
    trans = osm.tag(tags, "avalanche_transceiver")
    candidates = F.array(
        spot(dismount.isin("yes", "no", "sometimes"), "crossing",
             dismount=dismount),
        spot(osm.tag(tags, "aerialway") == "station", "lift_station",
             name=osm.osm_name(tags, "name"),
             lift_id=F.lit(""),
             position=F.when(station_pos.isin("top", "mid", "bottom"),
                             station_pos),
             entry=(F.when(access.isin("both", "entry"), F.lit(True))
                     .when(access.isin("exit", "no"), F.lit(False))),
             exit=(F.when(access.isin("both", "exit"), F.lit(True))
                    .when(access.isin("entry", "no"), F.lit(False)))),
        spot(amenity & (trans == "training"), "avalanche_transceiver_training"),
        spot(amenity & (trans == "checkpoint"),
             "avalanche_transceiver_checkpoint"),
        spot(osm.tag(tags, "man_made") == "piste:halfpipe", "halfpipe"),
    )

    spots = (
        df.withColumn("__spots", F.filter(candidates, lambda c: c.isNotNull()))
        .filter(F.size("__spots") > 0)
        .withColumn("geometry", centroid_udf(F.col("geometry")))
        .select("osm_type", "osm_id", "geometry",
                F.explode("__spots").alias("s"))
    )
    return spots.select(
        feature_id(F.lit("spot"), F.col("geometry")).alias("id"),
        F.lit("spot").alias("feature_type"),
        "s.spot_type", "s.dismount", "s.name", "s.lift_id", "s.position",
        "s.entry", "s.exit",
        _empty_str_array().alias("ski_areas"),
        _osm_source(F.col("osm_type"), F.col("osm_id")).alias("sources"),
        F.col("geometry"),
    )


# ---------------------------------------------------------------------------
# J1 — site ski-area membership join
# ---------------------------------------------------------------------------

def attach_site_ski_areas(layer: DataFrame, sites: DataFrame,
                          site_ski_areas: DataFrame) -> DataFrame:
    """J1: assign features to ``site=piste`` relation ski areas by OSM
    member id (SkiAreaSiteProvider.ts:38-53).

    ``layer`` has ``sources: array<struct<type,id>>`` holding exactly one
    OSM source, with an id like "way/123"; ``sites`` has ``site_id`` +
    ``members: array<struct<type, ref, role>>``; ``site_ski_areas`` is the
    formatted site layer, whose source ids ("relation/<site_id>") tie each
    site feature id (a content hash of the placeholder geometry) to its
    relation.

    Member OSM id → site feature ids is built once and broadcast-joined on
    each row's source id; a row with any other source count raises.  Rows
    sharing an ``id`` (equal type and geometry, e.g. a station that is also
    a crossing) all get the sorted, distinct union of their site ids — a
    window over ``id``, so the layer is scanned once."""
    site_osm_ids = site_ski_areas.select(
        F.col("id").alias("__site_feature_id"),
        F.explode("sources.id").alias("__site_osm_id"))
    members = sites.select(
        F.concat_ws("/", F.lit("relation"), F.col("site_id"))
            .alias("__site_osm_id"),
        F.explode("members").alias("m"),
    ).select(
        "__site_osm_id",
        F.concat_ws("/", F.col("m.type"), F.col("m.ref")).alias("__osm_id"))
    membership = (
        members.join(site_osm_ids, "__site_osm_id")
        .groupBy("__osm_id")
        .agg(F.collect_set("__site_feature_id").alias("__site_ids")))

    sources = F.col("sources")
    osm_id = F.when(F.size(sources) == 1, F.get(sources, 0)["id"]).otherwise(
        F.raise_error(F.format_string(
            "attach_site_ski_areas: feature %s has %s sources, expected 1",
            F.col("id"), F.size(sources).cast("string"))))
    site_ids = F.array_sort(F.array_distinct(F.flatten(
        F.collect_list("__site_ids").over(Window.partitionBy("id")))))
    joined = layer.withColumn("__osm_id", osm_id).join(
        F.broadcast(membership), "__osm_id", "left")
    return joined.select(*(site_ids.alias(c) if c == "ski_areas" else c
                           for c in layer.columns))

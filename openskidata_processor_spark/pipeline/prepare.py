"""The end-to-end pipeline driver — the engine's equivalent of the
reference's ``prepare()`` (src/PrepareGeoJSON.ts:95-270) plus the
clustering phase, as one Spark job graph with parquet checkpoints at the
reference's file boundaries (§3.2 dataflow):

    bronze OSM elements ──S3──▶ raw features per layer
    runs:   P1 format ▶ J1 site join ▶ §2.10 normalize ▶ [J9 elevation]
    lifts:  P2 format ▶ J1 site join ▶ [J9]
    spots:  P4 format ▶ J1 site join ▶ [J9]
    areas:  P3 format ×3 inputs, unioned
    §2.9 clustering ▶ statistics ▶ sinks (GeoJSON / Mapbox / CSV / GPKG,
                                          one fetch per layer)

Enrichment (elevation/geocode/snow cover) is optional exactly like the
reference (PrepareGeoJSON.ts:42-44): pass cache DataFrames to enable.

Tile generation (K4) stays an out-of-engine tippecanoe subprocess fed by
the GeoJSON sinks, as in the reference (TilesGenerator.ts:16-96); see
``tiles_command`` for the invocation this engine's outputs expect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions import osm as osm_fns
from ..operators.barrier import truncate_lineage
from ..sources.osm import assemble_osm_features, site_relations
from . import formatters as fmt
from .clustering import cluster_ski_areas
from .enrichment import add_elevation, add_elevation_profile
from .run_normalization import normalize_runs


def prepare(spark: SparkSession,
            runs_raw: DataFrame,
            lifts_raw: DataFrame,
            ski_areas_raw: DataFrame,
            sites: DataFrame,
            skimap_areas: DataFrame,
            spots_raw: DataFrame,
            elevation_caches: list[DataFrame] | None = None,
            checkpoint_dir: str | None = None) -> dict[str, DataFrame]:
    """Phases 2–3: format, normalize, cluster.  Returns the output layers.

    ``*_raw`` inputs are bronze rows (osm_type, osm_id, tags, geometry) —
    either read from parquet or produced by ``assemble_osm_features``.
    """
    def checkpoint(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir:
            path = os.path.join(checkpoint_dir, name)
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        # EAGER lineage cut.  A lazy barrier saves a few driver-sequenced
        # jobs, but event-log CPU attribution shows the phase-frame work
        # then runs ~2.8× (10.4 s CPU as 4 eager checkpoint jobs vs
        # +29.1 s CPU inside the racing consumer stages): clustering's
        # independent AQE leaf stages each recompute the un-materialized
        # phase frame.  On an idle host the duplicates back-fill (wall
        # floors measured equal), but at full utilization — a loaded host
        # or a real cluster — the extra CPU is wall time.  Eager computes
        # each phase exactly once.
        return truncate_lineage(df)

    site_areas = fmt.format_ski_areas_sites(sites)
    runs = fmt.attach_site_ski_areas(fmt.format_runs(runs_raw), sites,
                                     site_areas)
    runs = checkpoint(normalize_runs(runs), "intermediate_runs")
    lifts = checkpoint(
        fmt.attach_site_ski_areas(fmt.format_lifts(lifts_raw), sites,
                                  site_areas),
        "intermediate_lifts")
    spots = checkpoint(
        fmt.attach_site_ski_areas(fmt.format_spots(spots_raw), sites,
                                  site_areas),
        "intermediate_spots")
    ski_areas = checkpoint(
        fmt.format_ski_areas(ski_areas_raw, sites, skimap_areas),
        "intermediate_ski_areas")

    if elevation_caches:
        # 3D geometries + the run elevation profile (Elevation.ts
        # enhanceFeature: profile attaches during the same enrichment
        # pass; all-miss caches leave a null profile and 2D coords)
        runs = checkpoint(
            add_elevation_profile(add_elevation(runs, *elevation_caches),
                                  *elevation_caches),
            "runs_elevation")
        lifts = checkpoint(add_elevation(lifts, *elevation_caches),
                           "lifts_elevation")
        spots = checkpoint(add_elevation(spots, *elevation_caches),
                           "spots_elevation")

    out = attach_viewport_hints(
        cluster_ski_areas(ski_areas, runs, lifts, spots))
    return {k: checkpoint(v, f"output_{k}") for k, v in out.items()}


def attach_viewport_hints(layers: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """``viewport_hint`` on every exported feature — the reference's final
    ``computeViewportHint`` recompute per feature class: runs/lifts/spots
    from their own (elevation-enriched when available) geometry
    (Elevation.ts:136-143), ski areas from the geometries of their member
    runs/lifts, falling back to the ski area's own geometry when memberless
    (SkiAreaClusteringService.ts:1204-1211)."""
    from pyspark.sql import functions as F

    from ..functions.geometry import (viewport_hint_multi_udf,
                                      viewport_hint_udf)

    out = {name: df.withColumn("viewport_hint", viewport_hint_udf("geometry"))
           for name, df in layers.items() if name != "ski_areas"}

    members = (layers["runs"].select("ski_areas", "geometry")
               .unionByName(layers["lifts"].select("ski_areas", "geometry"))
               .select(F.explode("ski_areas").alias("__sid"), "geometry"))
    # per-ski-area geometry lists are bounded by real-world resort size
    # (≤ thousands of members), so collect_list stays executor-safe at scale
    member_hints = (members.groupBy("__sid")
                    .agg(F.collect_list("geometry").alias("__geoms"))
                    .select(F.col("__sid"),
                            viewport_hint_multi_udf("__geoms")
                            .alias("__member_hint")))
    sas = layers["ski_areas"]
    out["ski_areas"] = (
        sas.join(member_hints, sas["id"] == F.col("__sid"), "left")
        .withColumn("viewport_hint",
                    F.coalesce("__member_hint",
                               viewport_hint_udf("geometry")))
        .drop("__sid", "__member_hint"))
    return out


def prepare_from_elements(spark: SparkSession, elements: DataFrame,
                          skimap_areas: DataFrame,
                          **kwargs) -> dict[str, DataFrame]:
    """Full S3→outputs path from raw OSM elements (one Overpass dump)."""
    feats = truncate_lineage(assemble_osm_features(elements))
    from pyspark.sql import functions as F

    tags = F.col("tags")

    def any_lifecycle(key):
        # disused:/abandoned:/... prefixed keys route to the same layer the
        # plain key does — status_and_value parses them downstream
        # (Status.ts:9-58); without this, lifecycle-prefixed features never
        # reach their formatter.
        cond = F.element_at(tags, key).isNotNull()
        for s in osm_fns.LIFECYCLE_STATES:
            cond = cond | F.element_at(tags, f"{s}:{key}").isNotNull()
        return cond

    def any_lifecycle_value(key, value):
        cond = F.element_at(tags, key) == value
        for s in osm_fns.LIFECYCLE_STATES:
            cond = cond | (F.element_at(tags, f"{s}:{key}") == value)
        return cond

    runs_raw = feats.filter(any_lifecycle("piste:type")
                            | F.map_contains_key(tags, "piste:abandoned"))
    lifts_raw = feats.filter(any_lifecycle("aerialway")
                             | any_lifecycle("railway"))
    areas_raw = feats.filter(any_lifecycle_value("landuse", "winter_sports"))
    spots_raw = feats.filter(
        F.element_at(tags, "piste:dismount").isNotNull()
        | (F.element_at(tags, "aerialway") == "station")
        | (F.element_at(tags, "amenity") == "avalanche_transceiver")
        | (F.element_at(tags, "man_made") == "piste:halfpipe"))
    return prepare(spark, runs_raw, lifts_raw, areas_raw,
                   site_relations(elements), skimap_areas, spots_raw,
                   **kwargs)


OUTPUT_LAYERS = ("runs", "lifts", "spots", "ski_areas")


def write_outputs(layers: dict[str, DataFrame], out_dir: str,
                  geopackage: bool = True,
                  reference_shape: bool = False) -> dict[str, int]:
    """Phase 4 (K1/K2/K3 + P10): every sink format from the clustered
    layers, one Spark fetch per layer (``sinks.export.write_layer``).
    Returns each layer's row count, read from that fetch.

    Ski-area names (and, for ``reference_shape``, summary features) are
    resolved once per call.  Then each layer is projected once — its
    GeoJSON feature, Mapbox feature, CSV line and GeoPackage columns side
    by side — fetched once in id order, and written to ``{layer}.geojson``,
    ``mapboxgl_{layer}.geojson``, ``csv/{layer}/part-00000.csv`` and the
    layer's ``openskidata.gpkg`` tables.  The ski-area CSV needs the
    clustering statistics and is skipped without them.

    ``reference_shape=True`` writes the four layer FeatureCollections in
    the reference's exported property contract (camelCase keys, embedded
    skiAreas/stations summary features) so a consumer of the reference can
    diff outputs directly; the default keeps the engine's own flat
    snake_case properties."""
    from ..sinks import csv as csvsink
    from ..sinks import geojson as geojson_sink
    from ..sinks.export import SkiAreaRefs, write_layer
    from ..sinks.geopackage import GeoPackage
    from .mapbox import mapbox_feature

    os.makedirs(out_dir, exist_ok=True)
    sa = layers["ski_areas"]
    refs = SkiAreaRefs.resolve(
        sa, geojson_sink.ski_area_summary_json(sa) if reference_shape
        else None)
    gpkg = (GeoPackage(os.path.join(out_dir, "openskidata.gpkg"))
            if geopackage else None)
    counts = {}
    try:
        for name in OUTPUT_LAYERS:
            df = layers[name]
            feature = (geojson_sink.reference_feature(df, refs)
                       if reference_shape else geojson_sink.feature(df))
            sinks = [
                geojson_sink.FeatureCollectionFile(
                    os.path.join(out_dir, f"{name}.geojson"), feature),
                geojson_sink.FeatureCollectionFile(
                    os.path.join(out_dir, f"mapboxgl_{name}.geojson"),
                    mapbox_feature(name, df), skip_null=True),
            ]
            if name != "ski_areas" or "statistics" in df.columns:
                header, fields = csvsink.LAYER_FIELDS[name]
                sinks.append(csvsink.CsvFile(
                    os.path.join(out_dir, "csv", name), header,
                    fields(df, refs)))
            if gpkg is not None:
                sinks.append(gpkg.layer(name, df, refs))
            counts[name] = write_layer(df, sinks)
    finally:
        if gpkg is not None:
            gpkg.close()
    return counts


def tiles_command(out_dir: str) -> list[list[str]]:
    """K4: the tippecanoe/tile-join invocations the reference runs
    (TilesGenerator.ts:16-96) over this engine's mapboxgl outputs — kept
    out-of-engine exactly like the reference (subprocess sink).  Zoom
    ranges: lifts z5–15, runs z9–15, ski areas z0–15."""
    return [
        ["tippecanoe", "-o", f"{out_dir}/lifts.mbtiles", "-Z", "5", "-z",
         "15", "-l", "lifts", f"{out_dir}/mapboxgl_lifts.geojson"],
        ["tippecanoe", "-o", f"{out_dir}/runs.mbtiles", "-Z", "9", "-z",
         "15", "-l", "runs", f"{out_dir}/mapboxgl_runs.geojson"],
        ["tippecanoe", "-o", f"{out_dir}/ski_areas.mbtiles", "-Z", "0",
         "-z", "15", "-l", "skiareas",
         f"{out_dir}/mapboxgl_ski_areas.geojson"],
        ["tile-join", "-o", f"{out_dir}/openskimap.mbtiles",
         f"{out_dir}/lifts.mbtiles", f"{out_dir}/runs.mbtiles",
         f"{out_dir}/ski_areas.mbtiles"],
    ]

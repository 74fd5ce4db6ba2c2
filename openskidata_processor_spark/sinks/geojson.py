"""K1 — GeoJSON FeatureCollection sink (src/transforms/FeatureCollection.ts).

Features serialize as one JSON string per row (Catalyst ``to_json`` — no
Python in the per-row path).  The projections return Columns, so one
``select`` per layer can carry the engine feature, the reference-shaped
feature and the Mapbox feature next to the CSV and GeoPackage columns
(``sinks.export``).  Two file shapes:

- ``FeatureCollectionFile``: the reference's single-file
  ``{"type": "FeatureCollection", "features": [...]}``, written by the
  driver from the layer's one id-ordered fetch (O1,
  PostgreSQLClusteringDatabase.ts:551) — an *export* format;
  ``write_feature_collection`` is that fetch and file for one frame.
- ``write_feature_jsonl``: the scale shape — sharded JSON-lines of
  Feature objects (one spark text write, no driver bottleneck); the K5
  merge of N such directories is a plain ``unionByName``.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .export import SkiAreaRefs, write_layer


def feature_expr(props: dict[str, Column], geometry: Column) -> Column:
    """One canonical GeoJSON Feature string from named property columns
    (in key order) and a GeoJSON geometry string column."""
    # the reference serializes null properties explicitly
    # ("access": null, "bearing": null, ... in every snapshot)
    body = F.to_json(F.struct(*[c.alias(n) for n, c in props.items()]),
                     {"ignoreNullFields": "false"})
    return F.concat(
        F.lit('{"type":"Feature","properties":'), body,
        F.lit(',"geometry":'), geometry, F.lit("}"))


def feature(df: DataFrame, geometry_col: str = "geometry") -> Column:
    """The engine's Feature: every column but the geometry is a property."""
    return feature_expr({c: F.col(c) for c in df.columns if c != geometry_col},
                        F.col(geometry_col))


class FeatureCollectionFile:
    """A single FeatureCollection file of one Feature-string column.  A null
    Feature (null geometry) raises, unless ``skip_null`` says the
    projection drops rows that way (``mapbox_feature``)."""

    def __init__(self, path: str, feature_col: Column,
                 skip_null: bool = False):
        self.path, self.skip_null = path, skip_null
        self.columns = [feature_col]

    def write(self, rows: Iterable[tuple]) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w", encoding="utf-8") as f:
            f.write('{"type":"FeatureCollection","features":[')
            sep = ""
            for (feat,) in rows:
                if feat is None:
                    if self.skip_null:
                        continue
                    raise ValueError(f"{self.path}: a feature has no geometry")
                f.write(sep)
                f.write(feat)
                sep = ","
            f.write("]}")


def write_feature_jsonl(df: DataFrame, path: str,
                        geometry_col: str = "geometry") -> None:
    """Sharded newline-delimited Features (the 100 TB shape)."""
    df.select(feature(df, geometry_col).alias("feature")).write.mode(
        "overwrite").text(path)


def write_feature_collection(df: DataFrame, path: str,
                             geometry_col: str = "geometry") -> None:
    """Single FeatureCollection file, id-ordered (reference parity)."""
    write_layer(df, [FeatureCollectionFile(path, feature(df, geometry_col))])


def read_feature_jsonl(spark, path: str) -> DataFrame:
    """The scale reader (inverse of ``write_feature_jsonl``): sharded
    newline-delimited Features → one ``feature`` string row each.  A plain
    splittable text scan — N files / N splits, no driver involvement."""
    return (spark.read.text(path)
            .select(F.col("value").alias("feature"))
            .filter(F.length("feature") > 0))


# Above this size a single FeatureCollection file parses executor-side.
DRIVER_READ_MAX_BYTES = 32 << 20


def read_feature_collection(spark, path: str,
                            max_driver_bytes: int = DRIVER_READ_MAX_BYTES
                            ) -> DataFrame:
    """Reader for FeatureCollection inputs (S4): features land as JSON
    strings, one row each.

    Three paths by input shape:
    - a *directory* → sharded JSONL (``read_feature_jsonl``) — the
      documented 100 TB entry, fully splittable;
    - a small single file (≤ ``max_driver_bytes``) → driver ``json.load``
      with canonical re-serialization (byte-stable parity ingest);
    - a large single file → ``spark.read.json(multiLine)`` with the
      EXPLICIT schema ``features array<string>`` + ``explode``: Spark's
      Jackson parser returns the raw JSON text of each feature when the
      expected type is string, so features pass through verbatim — no
      schema inference, no cross-feature type coercion (Point vs Polygon
      coordinate nesting), no null-field dropping.  One JSON document
      can't split, but the parse and feature fan-out happen on an
      executor and everything downstream is distributed — the driver
      never holds the file.
    """
    if os.path.isdir(path):
        return read_feature_jsonl(spark, path)
    if os.path.getsize(path) <= max_driver_bytes:
        with open(path) as f:
            fc = json.load(f)
        feats = [(json.dumps(x, separators=(",", ":"), sort_keys=True),)
                 for x in fc.get("features", [])]
        return spark.createDataFrame(feats or [("",)], "feature string") \
            .filter(F.col("feature") != "")
    fc = (spark.read.option("multiLine", "true")
          .schema("features array<string>").json(path))
    return fc.select(F.explode("features").alias("feature"))


# ---------------------------------------------------------------------------
# Reference-shaped export (the exact output contract of the reference's
# {runs,lifts,spots,ski_areas}.geojson files, PrepareGeoJSON.int.test.ts
# snapshots): camelCase property keys, feature_type exported as "type",
# and each member feature embedding its ski areas as SUMMARY FEATURES
# (toSkiAreaSummary.ts: Feature{properties:{id,name,activities,type,
# status}, geometry}) instead of id arrays.
# ---------------------------------------------------------------------------

_CAMEL_OVERRIDES = {
    "feature_type": "type",
    "wikidata_id": "wikidataID",
    "ref_fr_cairn": "refFRCAIRN",
    "associated_lift_id": "liftId",
}


def _camel(name: str) -> str:
    if name in _CAMEL_OVERRIDES:
        return _CAMEL_OVERRIDES[name]
    head, *rest = name.split("_")
    return head + "".join(w.capitalize() for w in rest)


def _camel_struct(col: F.Column, fields: list[str]) -> F.Column:
    return F.when(col.isNotNull(), F.struct(
        *[col[f].alias(_camel(f)) for f in fields]))


def _camel_measures(v: F.Column, fields: list[str]) -> F.Column:
    return F.struct(*[v[f].alias(_camel(f)) for f in fields])


def _camel_statistics(c: F.Column) -> F.Column:
    """Deep-camelCase the A2 statistics struct to the reference's exported
    shape (statistics.runs.byActivity.{act}.byDifficulty.{diff}.lengthInKm
    ..., statistics.lifts.byType.{type}...)."""
    run_meas = ["count", "length_in_km", "snowmaking_length_in_km",
                "snowfarming_length_in_km", "combined_elevation_change",
                "min_elevation", "max_elevation"]
    lift_meas = ["count", "length_in_km", "combined_elevation_change",
                 "min_elevation", "max_elevation"]
    runs = F.when(c["runs"].isNotNull(), F.struct(
        F.transform_values(
            c["runs"]["by_activity"],
            lambda _, v: F.struct(
                F.transform_values(
                    v, lambda _k, m: _camel_measures(m, run_meas))
                .alias("byDifficulty"))).alias("byActivity"),
        c["runs"]["min_elevation"].alias("minElevation"),
        c["runs"]["max_elevation"].alias("maxElevation")))
    lifts = F.when(c["lifts"].isNotNull(), F.struct(
        F.transform_values(c["lifts"]["by_type"],
                           lambda _, m: _camel_measures(m, lift_meas))
        .alias("byType"),
        c["lifts"]["min_elevation"].alias("minElevation"),
        c["lifts"]["max_elevation"].alias("maxElevation")))
    return F.when(c.isNotNull(), F.struct(
        runs.alias("runs"), lifts.alias("lifts"),
        c["min_elevation"].alias("minElevation"),
        c["max_elevation"].alias("maxElevation")))


def ski_area_summary_json(ski_areas: DataFrame) -> Column:
    """The summary Feature JSON of each ski area (P14, toSkiAreaSummary.ts):
    id, name, activities, type and status, with the ski area's geometry."""
    ftype = (F.col("feature_type") if "feature_type" in ski_areas.columns
             else F.lit("skiArea"))
    return feature_expr({"activities": F.col("activities"), "id": F.col("id"),
                         "name": F.col("name"), "status": F.col("status"),
                         "type": ftype}, F.col("geometry"))


def _stations_json(col: F.Column) -> F.Column:
    """Lift stations as embedded spot features (FeatureExporter.ts:95-114;
    the engine embeds the station summary it carries: id/name/position/
    entry/exit + geometry)."""
    feat = lambda s: F.concat(  # noqa: E731
        F.lit('{"type":"Feature","properties":'),
        F.to_json(F.struct(s["id"].alias("id"), s["name"].alias("name"),
                           s["position"].alias("position"),
                           s["entry"].alias("entry"),
                           s["exit"].alias("exit")),
                  {"ignoreNullFields": "false"}),
        F.lit(',"geometry":'), s["geometry"], F.lit("}"))
    return F.concat(F.lit("["),
                    F.concat_ws(",", F.transform(col, feat)), F.lit("]"))


def reference_feature(df: DataFrame, refs: SkiAreaRefs | None,
                      geometry_col: str = "geometry") -> Column:
    """One reference-contract GeoJSON Feature string per row: columns
    camelCased (with the published special cases), nested structs
    (viewport_hint, elevation_profile, statistics) deep-camelCased, and the
    ski_areas id array / stations array replaced by embedded features,
    spliced in unescaped as the first properties.  The ski_areas ids stay
    a plain array unless ``refs`` carries summaries."""
    splice_sa = ("ski_areas" in df.columns and refs is not None
                 and refs.has_summaries)
    # engine-internal working columns never exported by the reference
    skip = {geometry_col, "stations", "is_polygon", "source", "n_members"}
    if splice_sa:
        skip.add("ski_areas")
    props: dict[str, Column] = {}
    for name in df.columns:
        if name in skip:
            continue
        c = F.col(name)
        if name == "viewport_hint":
            c = _camel_struct(c, ["bearing", "center", "min_camera_y",
                                  "rotated_height_meters",
                                  "rotated_width_meters"])
        elif name == "elevation_profile":
            c = _camel_struct(c, ["heights", "resolution",
                                  "target_resolution"])
        elif name == "statistics":
            c = _camel_statistics(c)
        props[_camel(name)] = c
    if "feature_type" not in df.columns:
        props[_camel("feature_type")] = F.lit("skiArea")
    splices: list[tuple[str, Column]] = []
    if "stations" in df.columns:
        splices.append(("stations", F.coalesce(
            _stations_json(F.col("stations")), F.lit("[]"))))
    if splice_sa:
        splices.append(("skiAreas", refs.summaries(F.col("ski_areas"))))
    feat = feature_expr(props, F.col(geometry_col))
    if not splices:
        return feat
    # '{"type":"Feature","properties":{"a":1}...' ->
    # '{"type":"Feature","properties":{"<key>":<fragment>,"a":1}...'
    head = len('{"type":"Feature","properties":{')
    parts = [F.lit('{"type":"Feature","properties":{')]
    for key, frag in splices:
        parts += [F.lit(f'"{key}":'), frag, F.lit(",")]
    return F.concat(*parts, F.substring(feat, head + 1, 1 << 30))

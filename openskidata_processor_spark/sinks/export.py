"""Phase 4's writer loop: one projected frame per output layer, fetched
once in id order, with every sink format written from the same rows.

A sink contributes named Spark columns to the layer's one ``select`` and
then writes its slice of each fetched row: the GeoJSON and Mapbox
FeatureCollection files (``geojson.FeatureCollectionFile``), the CSV file
(``csv.CsvFile``) and the GeoPackage tables (``geopackage.GeoPackage``).
So each layer costs one Spark job however many formats it feeds, and the
per-job fixed cost, not the row count, is what this size of export pays
for (the Chukonu split of per-job vs per-record cost).

Ski-area names and summary features resolve once per export
(``SkiAreaRefs.resolve``, J8 / FeatureExporter.ts:148-161) and enter each
layer's projection as literal lookup maps instead of a join per sink.  The
maps hold one entry per ski area, which bounds them by the world's ski
area count, not by the feature layers.

The fetch is a ``collect`` and a driver-side sort by id (O1,
PostgreSQLClusteringDatabase.ts:551): single-file exports are written by
the driver anyway, and a Spark ``orderBy`` would add a sampling job and a
shuffle per layer.  A layer's rows are held on the driver while its files
are written.
"""

from __future__ import annotations

from typing import Iterable, Protocol, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Sink(Protocol):
    """One output of a layer: the columns it needs, and the writer of the
    fetched values of those columns (one tuple per row, id-ordered)."""

    columns: Sequence[Column]

    def write(self, rows: Iterable[tuple]) -> None: ...


def write_layer(df: DataFrame, sinks: Sequence[Sink]) -> int:
    """Project ``df`` once for every sink, fetch it once, and hand each
    sink its columns of every row, ordered by ``id`` when ``df`` has one.
    Returns the number of rows fetched."""
    ordered = "id" in df.columns
    lead = [F.col("id")] if ordered else []
    cols = lead + [c for s in sinks for c in s.columns]
    rows = df.select(*[c.alias(f"_{i}") for i, c in enumerate(cols)]) \
        .collect()
    if ordered:
        rows.sort(key=lambda r: r[0])
    lo = len(lead)
    for s in sinks:
        hi = lo + len(s.columns)
        s.write(r[lo:hi] for r in rows)
        lo = hi
    return len(rows)


def _lookup(mapping: dict[str, str]):
    """``key Column -> value Column`` over a literal map; null for a
    missing key (and always, for an empty mapping)."""
    if not mapping:
        return lambda key: F.lit(None).cast("string")
    keys = sorted(mapping)
    table = F.map_from_arrays(F.lit(keys), F.lit([mapping[k] for k in keys]))
    return lambda key: table[key]


class SkiAreaRefs:
    """The clustered ski areas as the member layers' exports see them:
    names (CSV / GeoPackage ``ski_area_names``) and, for the
    reference-shaped GeoJSON, summary features (P14)."""

    def __init__(self, names: dict[str, str],
                 summaries: dict[str, str] | None = None):
        self._name = _lookup(names)
        self._summary = None if summaries is None else _lookup(summaries)

    @classmethod
    def resolve(cls, ski_areas: DataFrame | None,
                summary: Column | None = None) -> SkiAreaRefs | None:
        """One fetch of ``(id, name[, summary])`` per ski area.  Pass the
        summary-feature column (``geojson.ski_area_summary_json``) to
        resolve summaries too.  ``None`` without a ski-area table."""
        if ski_areas is None:
            return None
        cols = [F.col("id"), F.col("name")]
        if summary is not None:
            cols.append(summary)
        rows = ski_areas.select(*cols).collect()
        names = {r[0]: r[1] for r in rows if r[1] is not None}
        summaries = ({r[0]: r[2] for r in rows if r[2] is not None}
                     if summary is not None else None)
        return cls(names, summaries)

    @property
    def has_summaries(self) -> bool:
        return self._summary is not None

    def names(self, ids: Column) -> Column:
        """Sorted-unique ','-joined names of the ``ids`` that resolve to a
        named ski area; "" when none do (extractSkiAreaNames)."""
        found = F.filter(F.transform(ids, self._name),
                         lambda v: v.isNotNull())
        return F.coalesce(
            F.concat_ws(",", F.array_sort(F.array_distinct(found))),
            F.lit(""))

    def summaries(self, ids: Column) -> Column:
        """JSON array of the summary features of ``ids``, sorted by their
        JSON text; "[]" when none resolve."""
        found = F.filter(F.transform(ids, self._summary),
                         lambda v: v.isNotNull())
        return F.coalesce(
            F.concat(F.lit("["), F.concat_ws(",", F.sort_array(found)),
                     F.lit("]")),
            F.lit("[]"))

"""Grid-bucketed spatial / distance joins (SURVEY.md §4.3, joins J2/J3).

The reference executes spatial predicates row-at-a-time against a PostGIS
GIST index (``PostgreSQLClusteringDatabase.ts:675-707``).  Spark has no
spatial index, so the canonical scale-out strategy is:

    explode each side to covering grid cells  →  shuffle hash equi-join on
    cell id  →  exact predicate post-filter  →  dropDuplicates(pair ids)

The cell equi-join is a plain Catalyst join: it shuffles once on the cell
key, broadcast-joins automatically when one side is small, and AQE handles
hot cells (mega-resorts / dense regions) via skew-join splitting.  At 100 TB
the cell id is also the natural partition key to pre-bucket both sides on,
which turns repeated spatial joins into shuffle-free joins.

All cell math is Catalyst expressions (floor/ceil/sequence) — no UDF on the
join's hot path; only the exact geometry predicate (when geometries are
GeoJSON) runs as an Arrow-batched pandas UDF after the candidate join has cut
the pair count down.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openskidata_processor_spark.functions.geometry import EARTH_RADIUS_KM, KM_PER_DEG_LAT

from ..functions.geometry import haversine_km


def distance_join_1d(left: DataFrame, right: DataFrame,
                     left_val: str, right_val: str, radius: float,
                     how: str = "inner") -> DataFrame:
    """All (left, right) pairs with |left_val - right_val| < radius.

    Buckets both sides at width=radius; the left side explodes to its bucket
    ±1 so every qualifying pair shares a bucket.  One shuffle, then an exact
    band filter.
    """
    bucket_r = F.floor(F.col(right_val) / F.lit(radius)).cast("long")
    l_base = F.floor(F.col(left_val) / F.lit(radius)).cast("long")
    lx = left.withColumn(
        "__bucket", F.explode(F.array(l_base - 1, l_base, l_base + 1)))
    rx = right.withColumn("__bucket", bucket_r)
    joined = lx.join(rx, "__bucket", how).drop("__bucket")
    return joined.filter(
        F.abs(F.col(left_val) - F.col(right_val)) < F.lit(radius))


def geo_dwithin_join(left: DataFrame, right: DataFrame,
                     radius_km: float,
                     left_lon: str = "lon", left_lat: str = "lat",
                     right_lon: str = "lon", right_lat: str = "lat",
                     cell_deg: float | None = None,
                     distance_col: str = "distance_km") -> DataFrame:
    """All point pairs within ``radius_km`` great-circle distance.

    Grid: fixed-degree lat/lon cells.  The left (probe) side explodes to the
    neighbor cells that could contain a point within the radius; the number
    of longitude neighbors adapts to latitude (meridians converge), and cell
    x-ids wrap at the antimeridian so cross-dateline pairs are found.  The
    exact haversine filter runs JVM-side after the cell equi-join.
    """
    cell = cell_deg if cell_deg is not None else max(radius_km / KM_PER_DEG_LAT, 0.25)
    n_x = int(math.ceil(360.0 / cell))

    def cells(df: DataFrame, lon: str, lat: str, explode_neighbors: bool) -> DataFrame:
        cx = F.floor(F.col(lon) / F.lit(cell)).cast("long")
        cy = F.floor(F.col(lat) / F.lit(cell)).cast("long")
        if not explode_neighbors:
            return (df.withColumn("__cx", F.pmod(cx, F.lit(n_x)))
                      .withColumn("__cy", cy))
        ky = int(math.ceil(radius_km / (KM_PER_DEG_LAT * cell)))
        # Longitude degrees shrink with cos(lat): size the x-neighborhood by
        # the most extreme latitude reachable within the radius.
        lat_reach = F.least(
            F.abs(F.col(lat)) + F.lit(radius_km / KM_PER_DEG_LAT + cell * ky),
            F.lit(89.0))
        km_per_deg_lon = F.lit(KM_PER_DEG_LAT) * F.cos(F.radians(lat_reach))
        kx = F.least(
            F.ceil(F.lit(radius_km) / (km_per_deg_lon * F.lit(cell))).cast("int"),
            F.lit(n_x // 2)).cast("int")
        df = (df.withColumn("__dx", F.explode(F.sequence(-kx, kx)))
                .withColumn("__dy", F.explode(F.sequence(F.lit(-ky), F.lit(ky)))))
        return (df.withColumn("__cx", F.pmod(cx + F.col("__dx"), F.lit(n_x)))
                  .withColumn("__cy", cy + F.col("__dy"))
                  .drop("__dx", "__dy"))

    lx = cells(left, left_lon, left_lat, True)
    rx = cells(right, right_lon, right_lat, False)
    joined = lx.join(rx, ["__cx", "__cy"]).drop("__cx", "__cy")
    dist = haversine_km(F.col(left_lon), F.col(left_lat),
                        F.col(right_lon), F.col(right_lat))
    out = joined.withColumn(distance_col, dist).filter(
        F.col(distance_col) < F.lit(radius_km))
    # A pair can meet in several neighbor cells; keep one copy.
    return out.dropDuplicates([c for c in out.columns if c != distance_col])


def geometry_dwithin_join(left: DataFrame, right: DataFrame, radius_km: float,
                          left_geom: str = "geometry",
                          right_geom: str = "geometry",
                          cell_deg: float | None = None) -> DataFrame:
    """Distance join between arbitrary GeoJSON geometry columns.

    Candidate generation: bbox-covering cells per geometry (pandas UDF that
    returns the cell array), equi-join on cell; exact ``min_distance_km``
    predicate as an Arrow-batched UDF on candidates only.
    """
    import json

    import pandas as pd
    from pyspark.sql.types import ArrayType, BooleanType, LongType

    from openskidata_processor_spark.functions import geometry as geo

    cell = cell_deg if cell_deg is not None else max(radius_km / KM_PER_DEG_LAT, 0.05)
    n_x = int(math.ceil(360.0 / cell))
    pad_cells = int(math.ceil(radius_km / (KM_PER_DEG_LAT * cell)))

    def cover(pad: int):
        @F.pandas_udf(ArrayType(LongType()))
        def _udf(gj: pd.Series) -> pd.Series:
            out = []
            for s in gj:
                cs = geo.covering_cells(json.loads(s), cell)
                padded = set()
                for cx, cy in cs:
                    for dx in range(-pad, pad + 1):
                        for dy in range(-pad, pad + 1):
                            padded.add(((cx + dx) % n_x) * 10_000_000 + (cy + dy))
                out.append(sorted(padded))
            return pd.Series(out)
        return _udf

    lx = left.withColumn("__cell", F.explode(cover(pad_cells)(F.col(left_geom))))
    rx = right.withColumn("__cell", F.explode(cover(0)(F.col(right_geom))))
    cand = (lx.join(rx, "__cell").drop("__cell")
              .dropDuplicates([left_geom, right_geom]))

    @F.pandas_udf(BooleanType())
    def within(g1: pd.Series, g2: pd.Series) -> pd.Series:
        return pd.Series([
            geo.dwithin(json.loads(a), json.loads(b), radius_km)
            for a, b in zip(g1, g2)])

    return cand.filter(within(F.col(left_geom), F.col(right_geom)))

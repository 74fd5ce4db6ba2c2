"""Catalyst-expression geometry for catalog queries (JVM-side, no UDF).

Haversine distance stays in whole-stage codegen and is the hot path of
``operators.spatial_join``; the point-in-polygon UDF binds the pipeline's
numpy kernel to a fixed polygon.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from openskidata_processor_spark.functions.geometry import (EARTH_RADIUS_KM,
                                                            point_in_polygon)


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km as a pure Catalyst expression.

    2R·asin(√(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2))) — written with the exact
    same operation order as the SQL oracle so both engines agree bit-for-bit
    modulo libm ulps.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def make_point_in_polygon_udf(polygon: list[list[list[float]]]):
    """Vectorized membership test of (x, y) points vs a fixed polygon."""

    @F.pandas_udf(BooleanType())
    def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series([point_in_polygon(float(a), float(b), polygon)
                          for a, b in zip(x, y)])

    return _udf

"""Parquet table loaders for the synthetic star schema.

Mirrors the reference's per-layer file reads (``src/io/GeoJSONFiles.ts:60-108``
in the reference keeps one file per layer per stage); here every layer/table
is a Parquet scan so Catalyst gets column pruning + filter pushdown for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; tolerates Parquet TIMESTAMP(NANOS) columns (which
    Spark rejects by default) by reading nanos as long and converting to a
    microsecond timestamp with exact integer math (`div`, not double
    division — int64 nanos exceed double's 53-bit mantissa)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet `timestamp[us]` without the UTC flag would otherwise infer as
    # TIMESTAMP_NTZ, which `unix_micros`/`withWatermark` reject.  Session tz
    # is pinned UTC, so TIMESTAMP (LTZ) carries identical instants.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and isinstance(df.schema["ts"].dataType,
                                         TimestampNTZType):
        # Defensive: a harness-supplied session may have scanned before the
        # conf pin took effect (cached relation).  UTC session tz makes the
        # cast a pure type relabel.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register every table as a temp view so the whole catalog surface is
    reachable from ``spark.sql`` — the same names the DuckDB oracles use,
    making any oracle SQL string directly runnable on Spark too."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)

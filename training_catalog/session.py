"""Session set-up for catalog queries.

The correctness driver may hand a query an arbitrarily configured session,
so every query pins the runtime-settable confs its semantics depend on and
ships this package (and the pipeline package it imports) to the executors.
"""

from __future__ import annotations

import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

from openskidata_processor_spark.session import ship_package

_SHIPPED: set[int] = set()


def ship_catalog(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers (pandas UDFs
    are pickled by reference to their module)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(tempfile.gettempdir(),
                         f"training_catalog_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, p.relative_to(pkg_dir.parent))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def prep_session(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs that query semantics depend on.

    Called at the top of every catalog query because the harness may hand us
    an arbitrarily-configured session.  Only runtime-mutable confs here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI mode is the tested default (Spark 4); pin it so semantics don't
    # silently shift if the harness hands over a legacy-configured session.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    # Parquet timestamps without the UTC flag must read as TIMESTAMP (LTZ),
    # not TIMESTAMP_NTZ: `unix_micros`/`withWatermark` reject NTZ, and with
    # the session tz pinned UTC the instant semantics are identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ship_package(spark)
    ship_catalog(spark)
    return spark

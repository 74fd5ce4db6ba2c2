"""SparkSession construction for the pipeline, its CLI and its tests.

Local runs use ``local[$SPARK_GRAFT_CPUS]``; at cluster scale the same
configs apply (AQE, adaptive coalesce, skew-join handling).  The session
pins the confs output semantics depend on (UTC timezone, ANSI mode) and
ships the package to the executors so pandas UDFs import from any cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "openskidata-spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    spark = builder.getOrCreate()
    # Every session this package creates must be able to run its own
    # pandas UDFs from ANY cwd (operator-level API users, tests run from
    # outside the repo, cluster executors): ship the package zip here.
    ship_package(spark)
    return spark


_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas UDFs are pickled by reference to this module, so workers must be
    able to ``import openskidata_processor_spark`` — true on a cluster only
    if the package is distributed.  ``addPyFile`` with a zip of the package
    is the standard mechanism and also covers local-mode sessions created
    by an external harness from an arbitrary cwd.
    """
    import pathlib
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(tempfile.gettempdir(),
                         f"openskidata_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, p.relative_to(pkg_dir.parent))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


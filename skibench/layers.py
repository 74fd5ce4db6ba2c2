"""The pipeline's layers as the benchmark calls them.

Each function calls the program's public functions in the order
``pipeline.prepare.prepare`` does, with its eager lineage cuts
(``operators.barrier.truncate_lineage``) and no others, so every layer's
Spark work runs inside that layer's call and a span around the call times
the layer.  ``prepare()`` cuts the clustered layers once, after the
viewport hints; a workload runs only one of those two layers, and that
layer makes the cut.  The benchmark never changes what the program
computes; it only decides where one timed job starts and ends.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession

from openskidata_processor_spark.operators.barrier import truncate_lineage
from openskidata_processor_spark.pipeline import clustering, formatters as fmt
from openskidata_processor_spark.pipeline import prepare as prep
from openskidata_processor_spark.sources import landing

BRONZE_TABLES = ("runs_raw", "lifts_raw", "ski_areas_raw", "spots_raw",
                 "sites", "skimap_areas")


def _cut_all(layers: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {k: truncate_lineage(v) for k, v in layers.items()}


def _prepare_inputs(_spark, runs_raw, lifts_raw, ski_areas_raw, sites,
                    skimap_areas, spots_raw) -> dict[str, DataFrame]:
    return {"runs_raw": runs_raw, "lifts_raw": lifts_raw,
            "ski_areas_raw": ski_areas_raw, "sites": sites,
            "skimap_areas": skimap_areas, "spots_raw": spots_raw}


def read_landing(spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
    """``sources``: landing files → the six ``prepare()`` inputs.

    Routing to layers is ``prepare_from_elements``' own: it is called with
    ``prepare`` swapped for a function that hands back its arguments.  Its
    one cut, the assembled features, runs here; the routed frames stay
    lazy, as ``prepare()`` receives them."""
    elements = landing.read_osm_elements(spark, in_dir)
    skimap = landing.read_skimap_areas(
        spark, os.path.join(in_dir, "input_skimap_ski_areas.geojson"))
    real = prep.prepare
    prep.prepare = _prepare_inputs
    try:
        raw = prep.prepare_from_elements(spark, elements, skimap)
    finally:
        prep.prepare = real
    return raw


def read_bronze(spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
    """``sources``: bronze parquet → the six ``prepare()`` inputs."""
    return {t: spark.read.parquet(os.path.join(in_dir, f"{t}.parquet"))
            for t in BRONZE_TABLES}


def format_layers(raw: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """``formatters``: format every layer and join site ski areas.

    ``prepare()`` cuts formatted runs once, after ``normalize_runs``; the
    benchmark does not run that layer, so the cut is made here."""
    sites = raw["sites"]
    site_areas = fmt.format_ski_areas_sites(sites)
    return _cut_all({
        "runs": fmt.attach_site_ski_areas(fmt.format_runs(raw["runs_raw"]),
                                          sites, site_areas),
        "lifts": fmt.attach_site_ski_areas(fmt.format_lifts(raw["lifts_raw"]),
                                           sites, site_areas),
        "spots": fmt.attach_site_ski_areas(fmt.format_spots(raw["spots_raw"]),
                                           sites, site_areas),
        "ski_areas": fmt.format_ski_areas(raw["ski_areas_raw"], sites,
                                          raw["skimap_areas"]),
    })


def viewport(layers: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """``viewport``: ``prepare.attach_viewport_hints``."""
    return _cut_all(prep.attach_viewport_hints(layers))


def cluster(layers: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """``clustering``: ``cluster_ski_areas``, passes 1-10 and the per-area
    statistics."""
    return _cut_all(clustering.cluster_ski_areas(
        layers["ski_areas"], layers["runs"], layers["lifts"], layers["spots"]))


# The layers each workload's job runs, in ``prepare()`` order.
WORKLOAD_LAYERS = {
    "region_small": ("sources", "formatters", "viewport", "sinks"),
    "linked_domain": ("sources", "formatters", "clustering"),
}


@contextlib.contextmanager
def _no_span(name: str):
    yield


def warm_up(spark: SparkSession, workload: str, in_dir: str) -> int:
    """The set-up's warm-up job: count the workload's inputs."""
    if workload == "region_small":
        return landing.read_osm_elements(spark, in_dir).count()
    return spark.read.parquet(os.path.join(in_dir, "runs_raw.parquet")).count()


def run_job(spark: SparkSession, workload: str, in_dir: str, out_dir: str,
            tracer=None) -> dict[str, DataFrame]:
    """One job: the workload's layers from its inputs to its last output.

    Sink spans come from the wrapped writers (``spans.Tracer.install``),
    so ``sinks`` itself opens none."""
    span = tracer.span if tracer is not None else _no_span
    steps = WORKLOAD_LAYERS[workload]
    with span("job"):
        with span("sources"):
            if workload == "region_small":
                raw = read_landing(spark, in_dir)
            else:
                raw = read_bronze(spark, in_dir)
        with span("formatters"):
            layers = format_layers(raw)
        if "clustering" in steps:
            with span("clustering"):
                layers = cluster(layers)
        if "viewport" in steps:
            with span("viewport"):
                layers = viewport(layers)
        if "sinks" in steps:
            prep.write_outputs(layers, out_dir)
    return layers

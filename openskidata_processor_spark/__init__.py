"""openskidata_processor_spark — the openskidata-processor pipeline on Spark.

A from-scratch, Spark-first re-expression of the batch ETL of the reference
pipeline ``russellporter/openskidata-processor`` (see SURVEY.md for its
operator inventory): download, format, normalize, enrich, cluster and write.
Geometry is a numpy/pandas-UDF kernel, clustering's spatial join is a
grid-bucketed equi-join, ski-area regions are connected components by
union-find in two passes, and run-topology normalization walks each
property group's chains in one grouped pandas UDF.

Subpackages
-----------
sources    : landing-file readers, OSM assembly, downloads and the
             elevation / geocode / snow-cover cache producers
functions  : column-level function library (OSM tags, geometry, hashing)
operators  : connected components, lineage cuts, priority reducers
pipeline   : the domain ETL (formatters, normalization, enrichment,
             clustering, statistics, Mapbox projections, prepare)
sinks      : GeoJSON, CSV and GeoPackage writers, output merge and tiles
"""

__version__ = "0.1.0"

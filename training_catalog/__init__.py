"""training_catalog — the retired 150-query training-data catalog.

Analytics, text-hygiene, tokenizer, multimodal and streaming queries over a
synthetic star schema, each checked against DuckDB oracle SQL
(``plans.ORACLES``).  It is not part of the ski pipeline: nothing in
``openskidata_processor_spark`` imports it, and the pipeline's sessions do
not ship it.  It imports a few pipeline helpers (lineage cuts, connected
components, priority reducers, OSM tag functions, raster math) from there.

Subpackages
-----------
plans      : the query catalog (``QUERIES``) and its oracles (``ORACLES``)
streaming  : Structured Streaming queries
operators  : dedup, similarity, tokenizer learners, sampling, joins, ...
functions  : text, PII and vector expressions, Catalyst geometry
sources    : the star-schema table loader
pipeline   : corpus curation
"""

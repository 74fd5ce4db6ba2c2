"""ANSI-mode edge regression tests for every array-index probe in the repo.

Spark 4 defaults to ANSI mode, where ``element_at(arr, i)`` THROWS
``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` on an empty/short array instead of
returning null.  Round 5's snapshot commit rewrote ``status_and_value``
into exactly that trap and took down 122 tests; this module feeds the
empty-match case through every indexing site so the trap can never land
silently again.  Sites covered (the round-5 verdict's list):

- ``functions/osm.py`` ``status_and_value``  — no <state>=yes flag at all
- ``functions/osm.py`` ``osm_first_value``   — missing key
- ``pipeline/formatters.py`` ``run_difficulty_convention`` — numberless
  coordinates string (get(nums, 0) on an empty extraction)
- ``operators/priority.py`` ``priority_merge_agg`` — all-unknown group
  (sentinel index == len(priorities), guarded element_at)
- ``pipeline/mapbox.py:150``-shaped dynamic map lookup — missing key
  (map element_at is null-safe under ANSI; pinned here so a future
  "simplification" to bracket indexing fails loudly)
"""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from openskidata_processor_spark.functions import osm
from openskidata_processor_spark.operators.priority import (
    priority_merge_agg, tristate_or_agg)
from openskidata_processor_spark.pipeline.formatters import (
    run_difficulty_convention)

# Tag maps with NO lifecycle flags and NO prefixed lifecycle keys — the
# normal case for every operating run/lift, and the exact shape that threw
# at round-5 HEAD.
EMPTY_MATCH_TAGS = [
    {"aerialway": "chair_lift"},              # plain key, no state flags
    {"piste:type": "downhill"},
    {},                                        # nothing at all
    {"name": "Foo"},                           # no plain key, no states
    {"aerialway": "chair_lift", "note": "x"},
]


@pytest.fixture(scope="module")
def tags_df(spark):
    rows = [(i, t) for i, t in enumerate(EMPTY_MATCH_TAGS)]
    return spark.createDataFrame(rows, "i int, tags map<string,string>")


@pytest.mark.parametrize("key", ["aerialway", "piste:type"])
def test_status_and_value_no_state_flags(tags_df, key):
    status, value = osm.status_and_value(F.col("tags"), key)
    out = {r["i"]: (r["s"], r["v"])
           for r in tags_df.select("i", status.alias("s"), value.alias("v"))
                           .collect()}
    for i, tags in enumerate(EMPTY_MATCH_TAGS):
        plain = tags.get(key)
        if plain is not None:
            assert out[i] == ("operating", plain)
        else:
            assert out[i] == ("operating", None)


def test_status_and_value_state_flag_still_wins(spark):
    # Sanity: the null-safe rewrite must still find a present flag.
    df = spark.createDataFrame(
        [({"aerialway": "chair_lift", "abandoned": "yes"},)],
        "tags map<string,string>")
    status, value = osm.status_and_value(F.col("tags"), "aerialway")
    row = df.select(status.alias("s"), value.alias("v")).collect()[0]
    assert (row["s"], row["v"]) == ("abandoned", "chair_lift")


def test_osm_first_value_missing_key(tags_df):
    out = tags_df.select(
        osm.osm_first_value(F.col("tags"), "nonexistent").alias("v")).collect()
    assert all(r["v"] is None for r in out)


@pytest.mark.parametrize("geojson", [
    '{"type":"LineString","coordinates":[]}',   # empty coords → zero numbers
    '{"type":"Point"}',                          # no coordinates member
    '{"type":"Point","coordinates":[139.5]}',    # one number, no lat
])
def test_run_difficulty_convention_numberless(spark, geojson):
    df = spark.createDataFrame([(geojson,)], "g string")
    row = df.select(run_difficulty_convention(F.col("g")).alias("c")).collect()[0]
    # No/partial coordinates: lon/lat null → falls to the "europe" default.
    assert row["c"] == "europe"


def test_priority_merge_all_unknown(spark):
    # Every value outside the priority list → sentinel index == len(list);
    # the guarded element_at must yield null, not throw.
    df = spark.createDataFrame([("x",), ("y",), (None,)], "v string")
    row = df.agg(priority_merge_agg(F.col("v"), ["a", "b"]).alias("m"),
                 tristate_or_agg(F.lit(None).cast("boolean")).alias("t")) \
            .collect()[0]
    assert row["m"] is None and row["t"] is None


def test_map_element_at_missing_key_null_safe(spark):
    # mapbox.py:150 shape: element_at(map, dynamic_key) on a missing key is
    # null-safe even under ANSI; map[key] bracket indexing is NOT.  Pin it.
    df = spark.createDataFrame([({"downhill": 1.0},)], "m map<string,double>")
    row = df.select(F.element_at(F.col("m"), F.lit("nordic")).alias("v")) \
            .collect()[0]
    assert row["v"] is None


def test_sessions_pin_ansi(spark):
    # The engine's semantics are tested under ANSI; session.py pins it.
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_ansi_violation_raises_without_call_site_capture(spark):
    """session.py turns off PySpark's per-Column call-site capture; an ANSI
    violation inside a formatter-style projection (a tag cast to int, the
    shape of ``format_lifts``' number columns) must still raise, with its
    error class and the failing expression as its query context."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.createDataFrame([({"aerialway:capacity": "lots"},)],
                               "tags map<string,string>")
    with pytest.raises(PySparkException) as err:
        df.select(osm.tag(F.col("tags"), "aerialway:capacity")
                  .cast("int").alias("capacity")).collect()
    assert err.value.getCondition() == "CAST_INVALID_INPUT"
    assert "'lots'" in str(err.value)
    assert [c.fragment() for c in err.value.getQueryContext()] == ["cast"]


def test_assemble_ways_degenerate_inputs_dont_throw(spark):
    """Ways with unresolvable node refs (dropped by the inner join) or a
    single resolvable node (dropped by the size filter) must vanish
    cleanly — the ring-closure probe coords[0] == element_at(coords, -1)
    is only ever evaluated on groups with >= 1 element, so ANSI mode has
    nothing to throw on.  Pins the repo-wide element_at audit."""
    from openskidata_processor_spark.sources.osm import assemble_ways
    schema = ("type string, id long, lat double, lon double, "
              "nodes array<long>, "
              "members array<struct<type:string, ref:long, role:string>>, "
              "tags map<string,string>")
    elements = spark.createDataFrame([
        ("node", 1, 47.0, 11.0, None, None, {}),
        ("node", 2, 47.01, 11.01, None, None, {}),
        # all refs unresolvable
        ("way", 100, None, None, [991, 992], None, {"piste:type": "downhill"}),
        # one resolvable node -> size-1 coords, filtered out
        ("way", 101, None, None, [1, 993], None, {"piste:type": "downhill"}),
        # normal 2-node way survives
        ("way", 102, None, None, [1, 2], None, {"piste:type": "downhill"}),
        # degenerate "closed" pair 1-1 (size 2, first == last, not polygon)
        ("way", 103, None, None, [1, 1], None, {"landuse": "winter_sports"}),
    ], schema)
    out = {r.osm_id: r for r in assemble_ways(elements).collect()}
    assert set(out) == {102, 103}
    assert '"LineString"' in out[102].geometry

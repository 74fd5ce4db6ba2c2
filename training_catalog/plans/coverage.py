"""Catalog coverage extension — one query per SURVEY.md §2 operator id not
already exercised by ``plans.analytics``:

J1 (explode→broadcast→collect back), J6 (array-membership join), J7
(multi-hop explode/cache join), J9 (cache-first left join), W2 (ordered
fallback coalesce), W3 (range-position bucketing), W4 (posexplode offsets),
A3 (set-union/intersect agg), A8 (map-values aggregate), A9/O2/O3 (sorted
unique roll-ups), P9 (stable content-hash id), P12 (points-along sampler),
O1 (deterministic ordered export), plus the multimodal binary-column
plumbing (mapInPandas decode stub).

Every query registers into ``analytics.QUERIES`` via the shared decorator
and appends its DuckDB twin to ``oracles.ORACLES``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.barrier import spread_input
from .analytics import _avg_fixed, _sum_fixed, _t, query
from .oracles import ORACLES

# ---------------------------------------------------------------------------
# J1 — membership join: explode member refs → broadcast join → collect back
# (site ski-area membership, SkiAreaSiteProvider.ts:38-53)
# ---------------------------------------------------------------------------

@query("j1_membership_rollup")
def j1_membership_rollup(spark, sf_dir):
    """Per order: which of its lineitems reference a "site" part (small
    broadcast dim), collected back as a sorted member list — the J1 shape:
    explode(sources) → broadcast hash join on id → collect_list back."""
    li = _t(spark, sf_dir, "lineitem")
    sites = (_t(spark, sf_dir, "part")
             .filter(F.col("p_size") >= 48)
             .select("p_partkey", "p_brand"))
    return (
        li.join(F.broadcast(sites), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_members"),
             F.concat_ws(",", F.array_sort(F.collect_list("l_linenumber")))
              .alias("member_lines"))
    )


ORACLES["j1_membership_rollup"] = """
SELECT l_orderkey, count(*) AS n_members,
       string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
         AS member_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 48
GROUP BY l_orderkey
"""


# ---------------------------------------------------------------------------
# J6 — inverse membership via array column: explode(ski_areas) → equi-join
# (PostgreSQLClusteringDatabase.ts:758-768)
# ---------------------------------------------------------------------------

@query("j6_array_membership")
def j6_array_membership(spark, sf_dir):
    """Build each order's member array (distinct suppliers), then resolve
    members back through explode + equi-join — the reference's JSONB
    array-contains join re-expressed as explode→join."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    members = (li.groupBy("l_orderkey")
                 .agg(F.collect_set("l_suppkey").alias("member_ids")))
    return (
        members.select("l_orderkey", F.explode("member_ids").alias("member_id"))
        .join(F.broadcast(supp), F.col("member_id") == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_memberships"),
             F.countDistinct("l_orderkey").alias("n_orders"))
    )


ORACLES["j6_array_membership"] = """
WITH m AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_nationkey, count(*) AS n_memberships,
       count(DISTINCT l_orderkey) AS n_orders
FROM m JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------------------
# J9 — cache-first lookup: probe keys left-join cache, misses fall through
# (Elevation.ts:170-196 cache ∪ remote pattern)
# ---------------------------------------------------------------------------

@query("j9_cache_lookup")
def j9_cache_lookup(spark, sf_dir):
    """Distinct probe keys vs a partial cache table: hit/miss accounting —
    the cache-first join that replaces the reference's PostgresCache
    getMany.  The miss set is exactly what a remote fetch stage would
    receive (left-anti join)."""
    li = _t(spark, sf_dir, "lineitem")
    cache = (_t(spark, sf_dir, "part")
             .filter(F.col("p_partkey") % 3 != 0)
             .select("p_partkey", "p_retailprice"))
    probes = li.select("l_partkey").distinct()
    return (
        probes.join(cache, F.col("l_partkey") == F.col("p_partkey"), "left")
        .select(F.when(F.col("p_partkey").isNotNull(), F.lit("hit"))
                 .otherwise(F.lit("miss")).alias("status"),
                "p_retailprice")
        .groupBy("status")
        .agg(F.count("*").alias("n_keys"),
             _sum_fixed(F.coalesce(F.col("p_retailprice"), F.lit(0.0)))
              .alias("sum_value"))
    )


ORACLES["j9_cache_lookup"] = """
WITH probes AS (SELECT DISTINCT l_partkey FROM lineitem),
     cache AS (SELECT p_partkey, p_retailprice FROM part WHERE p_partkey % 3 != 0)
SELECT CASE WHEN p_partkey IS NOT NULL THEN 'hit' ELSE 'miss' END AS status,
       count(*) AS n_keys,
       round(CAST(sum(CAST(round(coalesce(p_retailprice, 0) * 100, 0) AS BIGINT))
                  AS BIGINT) / 100.0, 2) AS sum_value
FROM probes LEFT JOIN cache ON l_partkey = p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# J7 — multi-hop: entity → exploded member array → keyed lookup → re-agg
# (run → viirsPixels → snow-cover cache → history, FeatureExporter.ts:52-68)
# ---------------------------------------------------------------------------

@query("j7_multihop_rollup")
def j7_multihop_rollup(spark, sf_dir):
    """Order → member-part array → part lookup → per-order aggregate: the
    explode/join/groupBy-back multi-hop of the snow-cover export join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    arrs = (li.groupBy("l_orderkey")
              .agg(F.collect_set("l_partkey").alias("pixel_keys")))
    per_order = (
        arrs.select("l_orderkey", F.explode("pixel_keys").alias("pk"))
        .join(part, F.col("pk") == F.col("p_partkey"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_pixels"),
             _avg_fixed(F.col("p_retailprice"), dec=2).alias("avg_price"))
    )
    return (per_order.groupBy("n_pixels")
            .agg(F.count("*").alias("n_orders"),
                 _avg_fixed(F.col("avg_price"), scale=100, dec=2)
                  .alias("avg_avg_price")))


ORACLES["j7_multihop_rollup"] = """
WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
     per_order AS (
  SELECT l_orderkey, count(*) AS n_pixels,
         ((2 * (CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT))
             + count(*)) // (2 * count(*))) / 100.0 AS avg_price
  FROM m JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
)
SELECT n_pixels, count(*) AS n_orders,
       ((2 * (CAST(sum(CAST(round(avg_price * 100, 0) AS BIGINT)) AS BIGINT))
           + count(*)) // (2 * count(*))) / 100.0 AS avg_avg_price
FROM per_order GROUP BY n_pixels
"""


# ---------------------------------------------------------------------------
# W2 — ordered fallback: first non-null across prioritized attempts
# (zoom-level elevation fallback, Elevation.ts:348-409)
# ---------------------------------------------------------------------------

@query("w2_fallback_coalesce")
def w2_fallback_coalesce(spark, sf_dir):
    """Per customer: spend in the newest window, else an older window, else
    lifetime — coalesce over per-level aggregates with the winning level
    recorded (the W2 first-non-null-across-ordered-attempts shape)."""
    orders = _t(spark, sf_dir, "orders")
    def level(pred, name):
        return (orders.filter(pred).groupBy("o_custkey")
                .agg(_sum_fixed(F.col("o_totalprice")).alias(name)))
    l1 = level(F.col("o_orderdate") >= "1998-01-01", "v1")
    l2 = level(F.col("o_orderdate") >= "1996-01-01", "v2")
    l3 = level(F.lit(True), "v3")
    return (
        l3.join(l2, "o_custkey", "left").join(l1, "o_custkey", "left")
        .select(
            "o_custkey",
            F.coalesce("v1", "v2", "v3").alias("spend"),
            F.when(F.col("v1").isNotNull(), 1)
             .when(F.col("v2").isNotNull(), 2)
             .otherwise(3).alias("level"))
    )


ORACLES["w2_fallback_coalesce"] = """
WITH sums AS (
  SELECT o_custkey,
    round(CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v1,
    round(CAST(sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v2,
    round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2) AS v3
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, coalesce(v1, v2, v3) AS spend,
       CASE WHEN v1 IS NOT NULL THEN 1 WHEN v2 IS NOT NULL THEN 2 ELSE 3 END AS level
FROM sums
"""


# ---------------------------------------------------------------------------
# W3 — position-in-range bucketing (station position inference,
# LiftStationAssociator.ts:186-214: bottom/top 25% thresholds)
# ---------------------------------------------------------------------------

@query("w3_position_bucket")
def w3_position_bucket(spark, sf_dir):
    """Classify each order's price against its customer's [min, max] price
    range: bottom/top quartile thresholds, like station-vs-lift elevation
    classification."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    lo, hi = F.min("o_totalprice").over(w), F.max("o_totalprice").over(w)
    pos = (F.when(F.col("o_totalprice") < lo + (hi - lo) * 0.25, "bottom")
            .when(F.col("o_totalprice") > hi - (hi - lo) * 0.25, "top")
            .otherwise("mid"))
    return (orders.select(pos.alias("position"))
            .groupBy("position").agg(F.count("*").alias("n_orders")))


ORACLES["w3_position_bucket"] = """
WITH r AS (
  SELECT o_totalprice,
         min(o_totalprice) OVER (PARTITION BY o_custkey) AS lo,
         max(o_totalprice) OVER (PARTITION BY o_custkey) AS hi
  FROM orders
)
SELECT CASE WHEN o_totalprice < lo + (hi - lo) * 0.25 THEN 'bottom'
            WHEN o_totalprice > hi - (hi - lo) * 0.25 THEN 'top'
            ELSE 'mid' END AS position,
       count(*) AS n_orders
FROM r GROUP BY 1
"""


# ---------------------------------------------------------------------------
# W4 — posexplode offset assignment (parallel line offsets,
# MapboxGLFormatter.ts:104-121: offset = idx - (n-1)/2)
# ---------------------------------------------------------------------------

@query("w4_posexplode_offsets")
def w4_posexplode_offsets(spark, sf_dir):
    """Per order: sorted distinct return flags → positional render offsets
    offset = idx - (n-1)/2, aggregated by (flag, offset)."""
    li = _t(spark, sf_dir, "lineitem")
    flags = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_returnflag")).alias("flags")))
    return (
        flags.select("l_orderkey", F.posexplode("flags").alias("idx", "flag"),
                     F.size("flags").alias("n"))
        .select("flag", (F.col("idx") - (F.col("n") - 1) / 2.0).alias("offset"))
        .groupBy("flag", "offset")
        .agg(F.count("*").alias("n_uses"))
    )


ORACLES["w4_posexplode_offsets"] = """
WITH d AS (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem),
     p AS (
  SELECT l_returnflag AS flag,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_returnflag) - 1 AS idx,
         count(*) OVER (PARTITION BY l_orderkey) AS n
  FROM d
)
SELECT flag, idx - (n - 1) / 2.0 AS "offset", count(*) AS n_uses
FROM p GROUP BY flag, "offset"
"""


# ---------------------------------------------------------------------------
# A3 — set-union / intersect aggregation (ski-area activity derivation,
# SkiAreaClusteringService.ts:1302-1317)
# ---------------------------------------------------------------------------

@query("a3_set_aggregation")
def a3_set_aggregation(spark, sf_dir):
    """Per nation: sorted-unique member segments intersected with an allowed
    set — array_distinct/array_intersect over collected members."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    allowed = F.array(F.lit("BUILDING"), F.lit("MACHINERY"))
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.concat_ws(";", F.array_sort(
                F.array_intersect(F.collect_set("c_mktsegment"), allowed)))
              .alias("activities"),
             F.countDistinct("c_mktsegment").alias("n_segments"))
    )


ORACLES["a3_set_aggregation"] = """
SELECT n_name,
       coalesce(string_agg(DISTINCT CASE WHEN c_mktsegment IN ('BUILDING','MACHINERY')
                           THEN c_mktsegment END, ';' ORDER BY
                           CASE WHEN c_mktsegment IN ('BUILDING','MACHINERY')
                           THEN c_mktsegment END), '') AS activities,
       count(DISTINCT c_mktsegment) AS n_segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# A8 — aggregate over map values (lift counts from statistics byType,
# CSVFormatter.ts:379-408)
# ---------------------------------------------------------------------------

@query("a8_map_values_aggregate")
def a8_map_values_aggregate(spark, sf_dir):
    """Per customer: status→count map (the statistics struct analog), then
    scalar roll-ups computed *from the map* via aggregate(map_values) and
    element_at — not by re-scanning the fact table."""
    orders = _t(spark, sf_dir, "orders")
    per_status = (orders.groupBy("o_custkey", "o_orderstatus")
                  .agg(F.count("*").alias("n")))
    maps = (per_status.groupBy("o_custkey")
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderstatus", "n"))))
                .alias("by_status")))
    total = F.aggregate(F.map_values("by_status"), F.lit(0).cast("long"),
                        lambda acc, x: acc + x)
    return maps.select(
        "o_custkey", total.alias("n_total"),
        F.coalesce(F.element_at("by_status", "F"), F.lit(0).cast("long"))
         .alias("n_finished"))


ORACLES["a8_map_values_aggregate"] = """
SELECT o_custkey, count(*) AS n_total,
       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# A9/O2/O3 — sorted unique roll-ups (place lists, CSVFormatter.ts:338-368)
# ---------------------------------------------------------------------------

@query("a9_sorted_rollup")
def a9_sorted_rollup(spark, sf_dir):
    """Per region: sorted-unique ';'-joined nation names (the CSV place
    roll-up: array_sort(array_distinct(...)) → concat_ws)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.concat_ws(";", F.array_sort(F.collect_set("n_name")))
              .alias("nations"),
             F.count("*").alias("n_nations"))
    )


ORACLES["a9_sorted_rollup"] = """
SELECT r_name, string_agg(DISTINCT n_name, ';' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# P9 — stable content-hash feature id (FeatureBuilder.ts:4-21)
# ---------------------------------------------------------------------------

@query("p9_content_hash_id")
def p9_content_hash_id(spark, sf_dir):
    """Deterministic content-hash ids over a canonical serialization:
    id = sha256('part|' || key || '|' || name) — the engine's replacement
    for the reference's objectHash, byte-stable across engines."""
    part = _t(spark, sf_dir, "part")
    canon = F.concat_ws("|", F.lit("part"), F.col("p_partkey"), F.col("p_name"))
    return (
        part.select("p_brand", F.sha2(canon, 256).alias("id"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"),
             F.countDistinct("id").alias("n_unique_ids"),
             F.min("id").alias("min_id"))
    )


ORACLES["p9_content_hash_id"] = """
SELECT p_brand, count(*) AS n_parts,
       count(DISTINCT id) AS n_unique_ids, min(id) AS min_id
FROM (SELECT p_brand,
             sha256('part' || '|' || CAST(p_partkey AS VARCHAR) || '|' || p_name) AS id
      FROM part)
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# P12 — points-along-geometry sampler (GeoTransforms.ts:136-223)
# ---------------------------------------------------------------------------

@query("p12_points_along")
def p12_points_along(spark, sf_dir):
    """Sample 5 evenly spaced points (endpoints included) along a synthetic
    segment per supplier — sequence→transform→explode, the 1→N sampling
    UDTF shape that feeds the geocoder."""
    supp = _t(spark, sf_dir, "supplier")
    seg = supp.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 13) % 100).cast("double").alias("x1"),
        ((F.col("s_suppkey") * 29) % 100).cast("double").alias("y1"),
        ((F.col("s_suppkey") * 53) % 100).cast("double").alias("x2"),
        ((F.col("s_suppkey") * 71) % 100).cast("double").alias("y2"))
    pts = seg.select(
        "s_suppkey",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k"),
        "x1", "y1", "x2", "y2")
    return pts.select(
        "s_suppkey", "k",
        (F.col("x1") + (F.col("x2") - F.col("x1")) * F.col("k") * 0.25).alias("px"),
        (F.col("y1") + (F.col("y2") - F.col("y1")) * F.col("k") * 0.25).alias("py"))


ORACLES["p12_points_along"] = """
SELECT s_suppkey, k,
       x1 + (x2 - x1) * k * 0.25 AS px,
       y1 + (y2 - y1) * k * 0.25 AS py
FROM (SELECT s_suppkey,
             CAST((s_suppkey * 13) % 100 AS DOUBLE) AS x1,
             CAST((s_suppkey * 29) % 100 AS DOUBLE) AS y1,
             CAST((s_suppkey * 53) % 100 AS DOUBLE) AS x2,
             CAST((s_suppkey * 71) % 100 AS DOUBLE) AS y2
      FROM supplier),
     (SELECT unnest(generate_series(0, 4)) AS k)
"""


# ---------------------------------------------------------------------------
# O1 — deterministic ordered export (ORDER BY key before sinks)
# ---------------------------------------------------------------------------

@query("o1_ordered_export")
def o1_ordered_export(spark, sf_dir):
    """Top-100 orders by price with a total order — the deterministic
    export-ordering contract every reference sink relies on."""
    orders = _t(spark, sf_dir, "orders")
    return (orders
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
            .limit(100)
            .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")))


ORACLES["o1_ordered_export"] = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


# ---------------------------------------------------------------------------
# Multimodal — binary column + mapInPandas decode stub (training-data
# pipeline: image/audio as opaque bytes with typed metadata)
# ---------------------------------------------------------------------------

def _synth_png_assets(docs):
    """Deterministic PNG assets from the documents table: w,h from the
    text's UTF-8 byte length, pixel i = (doc_id·7 + i) mod 256 —
    closed-form reproducible in SQL.  Returns (meta, blobs)."""
    import pandas as pd

    from ..operators.multimodal import encode_png_rgb

    # NO spread_input (tried in the r12 campaign, reverted): the synth
    # PNGs are 24 pixels at bench scale and the isolated A/B read the
    # consumers SLOWER with it (decode_stats 1.52 -> 2.18 s, phash
    # 1.33 -> 1.62 s medians) — 32 Python tasks of setup for sub-second
    # work (see OPTIMIZATION_r12.md "spread_input re-measure")
    meta = docs.select(
        F.col("doc_id").alias("id"), "source",
        F.length(F.encode("text", "UTF-8")).alias("nb"))

    def synth(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                w = int(r.nb) % 8 + 2
                h = (int(r.nb) // 8) % 6 + 2
                px = ((int(r.id) * 7 + np.arange(w * h * 3, dtype=np.int64))
                      % 256).astype(np.uint8).reshape(h, w, 3)
                rows.append((int(r.id), encode_png_rgb(px)))
            yield pd.DataFrame(rows, columns=["id", "payload"])

    return meta, meta.mapInPandas(synth, "id long, payload binary")


@query("multimodal_decode_stats")
def multimodal_decode_stats(spark, sf_dir):
    """Multimodal pipeline through the REAL codec (no stub): deterministic
    PNG payloads are synthesized Spark-side from each document (dimensions
    from the text's UTF-8 byte length, pixel ramp seeded by doc_id),
    encoded with ``operators.multimodal.encode_png_rgb``, decoded back by
    the REAL dependency-free decoder (``decode_images`` →
    ``sources.terrain.decode_png_rgb``), and reduced to per-source raw
    pixel statistics.  The DuckDB oracle computes the identical stats
    from first principles on the source table, so the encode∘decode
    identity — filters, zlib, CRC, row geometry — is driver-checked, not
    just pytest-checked.  Every stage is an Arrow-batched distributed
    map; binary payloads travel as single contiguous buffers."""
    import pandas as pd

    from ..operators.multimodal import (decode_images, encode_png_rgb,
                                        pixel_stats)

    docs = _t(spark, sf_dir, "documents")
    meta, blobs = _synth_png_assets(docs)
    decoded = decode_images(blobs)
    stats = pixel_stats(decoded)
    dims = decoded.select("id", "width", "height")
    return (stats.join(dims, "id")
            .join(meta.select("id", "source"), "id")
            .groupBy("source")
            .agg(F.count("*").alias("n_assets"),
                 F.sum("width").alias("sum_width"),
                 F.sum("height").alias("sum_height"),
                 F.sum("n_px").alias("total_px"),
                 F.sum("pixel_sum").alias("total_pixel_sum"),
                 F.min("px_min").alias("px_min"),
                 F.max("px_max").alias("px_max")))


ORACLES["multimodal_decode_stats"] = """
WITH d AS (
  SELECT doc_id, source, octet_length(encode(text)) AS nb FROM documents),
dims AS (
  SELECT doc_id, source, nb % 8 + 2 AS w, (nb // 8) % 6 + 2 AS h FROM d),
px AS (
  SELECT doc_id, source, w, h,
         unnest(generate_series(0, w * h * 3 - 1)) AS i
  FROM dims),
ps AS (
  SELECT doc_id, source, w, h,
         sum((doc_id * 7 + i) % 256) AS psum,
         min((doc_id * 7 + i) % 256) AS pmin,
         max((doc_id * 7 + i) % 256) AS pmax
  FROM px GROUP BY 1, 2, 3, 4)
SELECT source, count(*) AS n_assets,
       CAST(sum(w) AS BIGINT) AS sum_width,
       CAST(sum(h) AS BIGINT) AS sum_height,
       CAST(sum(w * h * 3) AS BIGINT) AS total_px,
       CAST(sum(psum) AS BIGINT) AS total_pixel_sum,
       CAST(min(pmin) AS INT) AS px_min,
       CAST(max(pmax) AS INT) AS px_max
FROM ps GROUP BY source
"""


@query("multimodal_frame_sample")
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling through the REAL container path: deterministic C444
    YUV frames (pixel(f,p,i) = (doc_id·31 + f·97 + p·53 + i·7) mod 256;
    2 + doc_id mod 3 frames of 8×4) are muxed into a standard YUV4MPEG2
    stream by ``encode_y4m`` and fanned out 1-in-3 by
    ``operators.multimodal.sample_frames_y4m`` — an actual stream-header
    + FRAME-marker demux, not a byte-window stub (that slicer,
    ``sample_frames``, remains the documented opaque-container
    fallback).  Each kept frame row carries the raw plane bytes and an
    integer byte-sum checksum; the per-source rollup therefore pins the
    demuxed CONTENT (total_frame_sum) as well as the fan-out shape,
    against an oracle computing both from the pixel formula."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_y4m, sample_frames_y4m

    W, H = 8, 4
    # NO spread_input (tried in the r12 campaign): reverted by
    # SHAPE-ANALOGY to the directly-measured video/resize twins (8x4
    # synth frames, identical codec chain) — not its own isolated A/B
    # (see OPTIMIZATION_r12.md "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")

    def synth(parts):
        for pdf in parts:
            ids, srcs, payloads = [], [], []
            for did, src in zip(pdf["doc_id"], pdf["source"]):
                did = int(did)
                n = 2 + did % 3
                f, p, i = np.meshgrid(np.arange(n), np.arange(3),
                                      np.arange(H * W), indexing="ij")
                frames = ((did * 31 + f * 97 + p * 53 + i * 7) % 256).astype(
                    np.uint8).reshape(n, 3, H, W)
                ids.append(did)
                srcs.append(src)
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame(
                {"id": ids, "source": srcs, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, source string, payload binary")
    frames = sample_frames_y4m(assets.select("id", "payload"), every_n=3)
    return (frames.join(assets.select("id", "source"), "id")
            .groupBy("source")
            .agg(F.count("*").alias("n_frames"),
                 F.sum(F.length("frame")).alias("frame_bytes"),
                 F.max("frame_idx").alias("max_frame_idx"),
                 F.sum("frame_sum").alias("total_frame_sum")))


ORACLES["multimodal_frame_sample"] = """
WITH d AS (
  SELECT doc_id, source, 2 + doc_id % 3 AS n FROM documents),
f AS (
  SELECT doc_id, source,
         unnest(generate_series(0, n - 1, 3)) AS fi
  FROM d),
b AS (
  SELECT doc_id, source, fi,
         [(doc_id * 31 + fi * 97 + (j // 32) * 53 + (j % 32) * 7) % 256
          FOR j IN generate_series(0, 95)] AS bs
  FROM f)
SELECT source, count(*) AS n_frames,
       CAST(count(*) * 96 AS BIGINT) AS frame_bytes,
       CAST(max(fi) AS INT) AS max_frame_idx,
       CAST(sum(list_sum(bs)) AS BIGINT) AS total_frame_sum
FROM b GROUP BY source
"""


# ---------------------------------------------------------------------------
# §2.9/§2.10 — connected components (the clustering/chain-merge primitive),
# oracle-checked against a recursive-CTE transitive closure
# ---------------------------------------------------------------------------

@query("cc_components")
def cc_components(spark, sf_dir):
    """Connected components over a deterministic supplier graph (edges:
    same nation, key distance ≤ 3) using the engine's two-pass union-find
    operator — the distributed replacement for the reference's recursive
    visitObject expansion.  Vertex ids are zero-padded so the canonical
    min-label agrees with the SQL oracle's numeric ordering."""
    from openskidata_processor_spark.operators.graph import connected_components

    supp = _t(spark, sf_dir, "supplier").select(
        F.lpad(F.col("s_suppkey").cast("string"), 5, "0").alias("sk"),
        "s_suppkey", "s_nationkey")
    a = supp.toDF("ska", "ka", "na")
    b = supp.toDF("skb", "kb", "nb")
    edges = (a.join(b, (F.col("na") == F.col("nb"))
                    & (F.abs(F.col("ka") - F.col("kb")) <= 3))
             .select(F.col("ska").alias("src"), F.col("skb").alias("dst")))
    comps = connected_components(edges)
    return (comps.groupBy("component")
            .agg(F.count("*").alias("n_nodes"),
                 F.max("vertex").alias("max_vertex")))


ORACLES["cc_components"] = """
WITH RECURSIVE e AS (
  SELECT lpad(CAST(a.s_suppkey AS VARCHAR), 5, '0') AS sa,
         lpad(CAST(b.s_suppkey AS VARCHAR), 5, '0') AS sb
  FROM supplier a JOIN supplier b
    ON a.s_nationkey = b.s_nationkey
   AND abs(a.s_suppkey - b.s_suppkey) <= 3
), reach(va, vb) AS (
  SELECT sa, sb FROM e
  UNION
  SELECT r.va, e.sb FROM reach r JOIN e ON r.vb = e.sa
), comp AS (
  SELECT va AS vertex, min(vb) AS component FROM reach GROUP BY va
)
SELECT component, count(*) AS n_nodes, max(vertex) AS max_vertex
FROM comp GROUP BY component
"""


# ---------------------------------------------------------------------------
# Text quality scoring (training-data pipeline: length/punctuation filters)
# ---------------------------------------------------------------------------

@query("quality_docs")
def quality_docs(spark, sf_dir):
    """Pretraining-quality heuristic per document (token-length score ×
    punctuation-density penalty), aggregated per source — the classic
    quality-filter stage of a corpus pipeline, all in whole-stage codegen.

    The score is computed in *pure BIGINT arithmetic* on both engines:
      q = (min(n_tok, 64) * (len - punct_len) * 1e6) div (64 * len)
    which equals floor(min(n_tok/64,1) * (1-punct_ratio) * 1e6) exactly,
    with no double rounding — so the Spark and DuckDB results are
    bit-identical (a double `floor()` can straddle an integer boundary by
    1 ulp between engines; integer `div` cannot)."""
    from ..functions import text as T

    docs = _t(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text")).cast("long")
    len_text = F.length("text").cast("long")
    stripped = F.regexp_replace("text", "[a-zA-Z0-9 ]", "")
    non_punct_len = len_text - F.length(stripped).cast("long")
    prepared = docs.select(
        "source",
        F.least(n_tok, F.lit(64).cast("long")).alias("tok_c"),
        non_punct_len.alias("non_punct_len"),
        len_text.alias("len_text"),
    )
    score = F.expr(
        "CASE WHEN len_text > 0 "
        "THEN (tok_c * non_punct_len * 1000000L) div (64L * len_text) "
        "ELSE 0L END")
    return (prepared.select("source", score.alias("q"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("q").alias("sum_quality_e6"),
                 F.min("q").alias("min_quality_e6"),
                 F.max("q").alias("max_quality_e6")))


ORACLES["quality_docs"] = """
WITH q AS (
  SELECT source,
         CASE WHEN len(text) > 0 THEN
           (least(CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT), 64)
            * (CAST(len(text) AS BIGINT)
               - CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT))
            * 1000000)
           // (64 * CAST(len(text) AS BIGINT))
         ELSE 0 END AS q
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(q) AS BIGINT) AS sum_quality_e6,
       CAST(min(q) AS BIGINT) AS min_quality_e6,
       CAST(max(q) AS BIGINT) AS max_quality_e6
FROM q GROUP BY source
"""


# ---------------------------------------------------------------------------
# §2.11/§2.12 — custom stateful streaming operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

@query("stream_stateful_sessions")
def stream_stateful_sessions(spark, sf_dir):
    """Gap sessionization as a REAL stateful streaming query
    (applyInPandasWithState over a file stream, drained with availableNow) —
    the incremental twin of ``sessionize_user_sessions``; the same SQL
    oracle verifies the final state."""
    from ..streaming.events import stateful_user_sessions
    return stateful_user_sessions(spark, sf_dir)


_SESSIONS_ORACLE = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""

ORACLES["stream_stateful_sessions"] = _SESSIONS_ORACLE

# ``streaming/events.py::stateful_user_sessions_tws`` — the SAME
# sessionization on Spark 4's State-V2 API (transformWithStateInPandas
# + typed ValueState, RocksDB provider) — is deliberately NOT a catalog
# entry: State V2's Python worker needs a working google.protobuf,
# which this container lacks (ImportError: cannot import name
# 'descriptor'), so registering it would put a guaranteed-ERR row in
# the driver artifact.  The implementation + its oracle-equality
# contract test live behind an env gate
# (tests/test_streaming_semantics.py::test_sessions_tws_equals_v1),
# the same pattern as the tippecanoe and NSIDC live paths.


@query("dedup_group_resolution")
def dedup_group_resolution(spark, sf_dir):
    """Pairs → groups → keep-set: the dedup output a corpus pipeline
    actually consumes.  Exact 3-gram Jaccard ≥ 0.8 pairs resolve through
    connected components (``dedup.near_dup_groups``); every document gets
    (group_id = min doc id in its component, keep = is-canonical);
    singletons keep themselves.  Oracle: the same shingle pair SQL plus a
    recursive-CTE transitive closure."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text",
                                   n=3, threshold=0.8)
    return dd.near_dup_groups(docs, "doc_id", pairs)


ORACLES["dedup_group_resolution"] = """
WITH RECURSIVE w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                               FOR i IN generate_series(1, len(ws) - 2)]))
           AS shingle
  FROM w WHERE len(ws) >= 3
), sz AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT id_a, id_b FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b
  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
), e AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION SELECT id_b, id_a FROM p
), reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a
)
SELECT d.doc_id,
       coalesce(c.group_id, d.doc_id) AS group_id,
       coalesce(c.group_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


@query("range_band_counts")
def range_band_counts(spark, sf_dir):
    """Interval (band) join via bucketed equi-join
    (``operators/range_join.py``): events fall into overlapping value
    bands derived from nation keys; per-band counts.  A raw BETWEEN join
    would plan BroadcastNestedLoop — the bucket key restores a shuffled
    equi-join at corpus scale."""
    from ..operators.range_join import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = (_t(spark, sf_dir, "nation")
             .select(F.col("n_nationkey").alias("band_id"),
                     (F.col("n_nationkey") * 18.0).alias("lo"),
                     (F.col("n_nationkey") * 18.0 + 30.0).alias("hi")))
    joined = range_join(ev, bands, "value", "lo", "hi", bucket_width=30.0)
    # floor, not round: `value` is an arbitrary double, and round() on a
    # half-way double diverges across engines (Spark rounds the shortest
    # decimal repr, DuckDB the raw binary — see plans/analytics.py:50).
    # floor of the identical IEEE product is bit-deterministic everywhere.
    return (joined.groupBy("band_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100).cast("long"))
                  .alias("sum_cents")))


ORACLES["range_band_counts"] = """
SELECT n_nationkey AS band_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events JOIN nation
  ON value >= n_nationkey * 18.0 AND value <= n_nationkey * 18.0 + 30.0
GROUP BY 1
"""


@query("asof_latest_order")
def asof_latest_order(spark, sf_dir):
    """As-of join (the timeseries operator Spark lacks, built from a
    tagged union + carry-forward window — ``operators/asof.py``): each
    event matches its user's most recent order placed on-or-before the
    event's date.  Oracle: DuckDB's native ASOF LEFT JOIN.  The order
    side pre-aggregates to one row per (customer, date) so the match is
    well-defined on both engines."""
    from ..operators.asof import asof_join

    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", F.to_date("ts").alias("event_date")))
    orders = (_t(spark, sf_dir, "orders")
              .groupBy("o_custkey", "o_orderdate")
              .agg(F.max("o_orderkey").alias("matched_order")))
    out = asof_join(ev, orders,
                    left_on="event_date", right_on="o_orderdate",
                    left_by="user_id", right_by="o_custkey")
    return out.select("event_id", "user_id", "matched_order")


ORACLES["asof_latest_order"] = """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS matched_order
  FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, o.matched_order
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND CAST(e.ts AS DATE) >= o.o_orderdate
"""


@query("stream_dedup_exact")
def stream_dedup_exact(spark, sf_dir):
    """Incremental exact dedup as a REAL stateful streaming query
    (``dropDuplicates`` state over a file stream, drained availableNow) —
    the streaming twin of ``dedup_exact`` for a training-data tail
    pipeline; the batch oracle verifies the drained state."""
    from ..streaming.documents import streaming_exact_dedup_counts
    return streaming_exact_dedup_counts(spark, sf_dir)


ORACLES["stream_dedup_exact"] = """
SELECT source, count(DISTINCT md5(text)) AS n_unique
FROM documents GROUP BY source
"""


@query("multimodal_audio_stats")
def multimodal_audio_stats(spark, sf_dir):
    """Audio through the REAL WAV codec: deterministic PCM16 payloads are
    synthesized per document (sample_i = ((doc_id·7919 + i·104729) mod
    65536) − 32768, n = 64 + doc_id mod 32), containerized with
    ``encode_wav_pcm16``, and decoded back by the real RIFF chunk walk in
    ``operators.multimodal.audio_features`` — so the driver-checked row
    pins the encode∘decode identity, not a stub.  The oracle computes the
    identical integer statistics from the generation formula directly."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import audio_features, encode_wav_pcm16

    # NO spread_input (tried in the r12 campaign, reverted): the synth
    # waveform is tiny per row and the isolated A/B read 0.56 -> 1.06 s
    # median — 32 Python tasks of setup for sub-second work (see
    # OPTIMIZATION_r12.md "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(parts):
        for pdf in parts:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 32
                i = np.arange(n, dtype=np.int64)
                s = ((did * 7919 + i * 104729) % 65536 - 32768).astype(
                    np.int16)
                ids.append(did)
                payloads.append(encode_wav_pcm16(s, 16000))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, payload binary")
    feats = audio_features(assets)
    return (feats.filter(F.col("decoded"))
            .select(F.col("id").alias("doc_id"), "n_samples", "sum_abs",
                    "peak", "n_zero_cross"))


ORACLES["multimodal_audio_stats"] = """
WITH s AS (
  SELECT doc_id,
         [CAST(((doc_id * 7919 + i * 104729) % 65536) - 32768 AS BIGINT)
          FOR i IN generate_series(0, 63 + doc_id % 32)] AS smp
  FROM documents
)
SELECT doc_id,
       CAST(len(smp) AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
       CAST(list_sum([CASE WHEN (smp[i] >= 0) <> (smp[i-1] >= 0)
                           THEN 1 ELSE 0 END
                      FOR i IN generate_series(2, len(smp))]) AS BIGINT)
         AS n_zero_cross
FROM s
"""


@query("rollup_multi_granularity")
def rollup_multi_granularity(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: one pass produces
    hourly, daily, and all-time aggregates per event type via GROUPING
    SETS — the Expand + partial-agg machinery (each input row fans to its
    grouping combinations map-side; partial aggregation collapses them
    before the single shuffle).  ``gid`` disambiguates the granularity of
    each output row; sum uses the exact floor-fixed-point pattern."""
    ev = (_t(spark, sf_dir, "events")
          .select("event_type",
                  F.date_trunc("hour", F.col("ts")).alias("hour"),
                  F.to_date("ts").alias("day"),
                  F.floor(F.col("value") * 100).cast("long").alias("cents")))
    et, hour, day = F.col("event_type"), F.col("hour"), F.col("day")
    return (ev.groupingSets([[et, hour], [et, day], [et]], et, hour, day)
            .agg((F.grouping(hour) * 2 + F.grouping(day)).cast("long")
                 .alias("gid"),
                 F.count("*").alias("n_events"),
                 F.sum("cents").alias("sum_cents")))


ORACLES["rollup_multi_granularity"] = """
WITH src AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, CAST(ts AS DATE) AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, hour, day,
       CAST(grouping(hour) * 2 + grouping(day) AS BIGINT) AS gid,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM src
GROUP BY GROUPING SETS ((event_type, hour), (event_type, day), (event_type))
"""


@query("multimodal_video_stats")
def multimodal_video_stats(spark, sf_dir):
    """Video through a REAL container: deterministic C444 YUV frames are
    synthesized per document (plane p, frame f, pixel i →
    (doc_id·31 + f·97 + p·53 + i·7) mod 256; 2 + doc_id mod 3 frames of
    8×4), muxed into a standard YUV4MPEG2 stream by ``encode_y4m``, and
    demuxed back by the real stream parser in
    ``operators.multimodal.video_frame_stats`` (header parameter scan +
    FRAME-marker walk) with 1-in-2 frame sampling — the driver-checked
    row pins the mux∘demux identity, not a byte-window stub.  The oracle
    computes identical per-frame luma stats from the formula."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_y4m, video_frame_stats

    W, H = 8, 4
    # NO spread_input (tried in the r12 campaign, reverted): isolated
    # A/B read 0.72 -> 0.82 s median — the 8x4 synth frames are too
    # small for the fan-out at bench scale (see OPTIMIZATION_r12.md
    # "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(parts):
        for pdf in parts:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                f, p, i = np.meshgrid(np.arange(n), np.arange(3),
                                      np.arange(H * W), indexing="ij")
                frames = ((did * 31 + f * 97 + p * 53 + i * 7) % 256).astype(
                    np.uint8).reshape(n, 3, H, W)
                ids.append(did)
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, payload binary")
    return (video_frame_stats(assets, every_n=2)
            .select(F.col("id").alias("doc_id"), "frame_idx", "width",
                    "height", "y_sum", "y_min", "y_max"))


ORACLES["multimodal_video_stats"] = """
WITH f AS (
  SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 3, 2)) AS frame_idx
  FROM documents
), px AS (
  SELECT doc_id, frame_idx,
         [(doc_id * 31 + frame_idx * 97 + i * 7) % 256
          FOR i IN generate_series(0, 31)] AS ys
  FROM f
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       8 AS width, 4 AS height,
       CAST(list_sum(ys) AS BIGINT) AS y_sum,
       CAST(list_min(ys) AS INT) AS y_min,
       CAST(list_max(ys) AS INT) AS y_max
FROM px
"""


@query("multimodal_resize_stats")
def multimodal_resize_stats(spark, sf_dir):
    """The real resize kernel under the correctness gate: deterministic
    8×4 RGB frames (pixel(y,x,c) = (doc_id·13 + y·31 + x·7 + c·3) mod
    256) are PNG-encoded, decoded by the REAL decoder, resized 2× down
    with the nearest-neighbor kernel (index map y→⌊y·H/OH⌋ = 2y,
    x→2x), and reduced to integer pixel stats; the oracle computes the
    identical stats from the formula at the sampled indices."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (decode_images, encode_png_rgb,
                                        resize_images)

    H, W = 4, 8
    # NO spread_input (tried in the r12 campaign, reverted): isolated
    # A/B read 0.96 -> 1.58 s median — the 4x8 synth PNGs are too small
    # for the fan-out at bench scale (see OPTIMIZATION_r12.md
    # "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(parts):
        for pdf in parts:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                y, x, c = np.meshgrid(np.arange(H), np.arange(W),
                                      np.arange(3), indexing="ij")
                arr = ((did * 13 + y * 31 + x * 7 + c * 3) % 256).astype(
                    np.uint8)
                ids.append(did)
                payloads.append(encode_png_rgb(arr))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, payload binary")
    resized = resize_images(decode_images(assets), 4, 2)

    def stats(parts):
        for pdf in parts:
            rows = []
            for r in pdf.itertuples(index=False):
                if not r.decoded:
                    continue
                px = np.frombuffer(r.pixels, dtype=np.uint8)
                rows.append((r.id, int(px.size),
                             int(px.sum(dtype=np.int64)),
                             int(px.min()), int(px.max())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_px", "px_sum", "px_min", "px_max"])

    return resized.mapInPandas(
        stats, "doc_id long, n_px long, px_sum long, px_min int, px_max int")


ORACLES["multimodal_resize_stats"] = """
WITH px AS (
  SELECT doc_id,
         [CAST((doc_id * 13 + (2 * (i // 12)) * 31
                + (2 * ((i % 12) // 3)) * 7 + (i % 3) * 3) % 256 AS BIGINT)
          FOR i IN generate_series(0, 23)] AS vals
  FROM documents
)
SELECT doc_id, CAST(len(vals) AS BIGINT) AS n_px,
       CAST(list_sum(vals) AS BIGINT) AS px_sum,
       CAST(list_min(vals) AS INT) AS px_min,
       CAST(list_max(vals) AS INT) AS px_max
FROM px
"""


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup over the real PNG decode path
# ---------------------------------------------------------------------------


@query("multimodal_phash_groups")
def multimodal_phash_groups(spark, sf_dir):
    """Image near-dup dedup signal through the REAL codec: synthesized
    PNG assets decode back through the dependency-free decoder, hash to
    an exact-integer aHash (``operators.multimodal.perceptual_hash``),
    and reduce to per-source asset/distinct-hash/duplicate counts.  The
    oracle re-derives every hash bit closed-form from the documents
    table — the decode∘hash identity is driver-checked.  (Pair
    generation with Hamming tolerance is ``phash_pairs``, pigeonhole-
    blocked; pinned on crafted near-dup PNGs in pytest — the synthetic
    ramp corpus collides too massively for a meaningful pair list.)"""
    from ..operators.multimodal import decode_images, perceptual_hash

    docs = _t(spark, sf_dir, "documents")
    meta, blobs = _synth_png_assets(docs)
    hashes = perceptual_hash(decode_images(blobs))
    return (hashes.join(meta.select("id", "source"), "id")
            .groupBy("source")
            .agg(F.count("*").alias("n_assets"),
                 F.countDistinct("ph_hi", "ph_lo").alias("n_distinct"),
                 (F.count("*") - F.countDistinct("ph_hi", "ph_lo"))
                 .alias("n_dup")))


ORACLES["multimodal_phash_groups"] = """
WITH d AS (
  SELECT doc_id, source, octet_length(encode(text)) AS nb FROM documents
), dims AS (
  SELECT doc_id, source, nb % 8 + 2 AS w, (nb // 8) % 6 + 2 AS h FROM d
), cells AS (
  SELECT doc_id, source, w, h, u.k,
         ((u.k // 8) * h) // 8 AS y, ((u.k % 8) * w) // 8 AS x
  FROM dims, LATERAL (SELECT unnest(generate_series(0, 63)) AS k) u
), gray AS (
  SELECT doc_id, source, k,
         (((doc_id * 7 + (y * w + x) * 3) % 256)
          + ((doc_id * 7 + (y * w + x) * 3 + 1) % 256)
          + ((doc_id * 7 + (y * w + x) * 3 + 2) % 256)) // 3 AS g
  FROM cells
), s AS (
  SELECT doc_id, source, sum(g) AS tot, list(g ORDER BY k) AS gs
  FROM gray GROUP BY doc_id, source
), hashes AS (
  SELECT doc_id, source,
         CAST(sum(CASE WHEN k >= 32 AND gs[k + 1] * 64 > tot
                       THEN (1::BIGINT << (k - 32)) ELSE 0 END)
              AS BIGINT) AS ph_hi,
         CAST(sum(CASE WHEN k < 32 AND gs[k + 1] * 64 > tot
                       THEN (1::BIGINT << k) ELSE 0 END)
              AS BIGINT) AS ph_lo
  FROM s, LATERAL (SELECT unnest(generate_series(0, 63)) AS k) u
  GROUP BY doc_id, source
)
SELECT source, count(*) AS n_assets,
       count(DISTINCT (ph_hi, ph_lo)) AS n_distinct,
       count(*) - count(DISTINCT (ph_hi, ph_lo)) AS n_dup
FROM hashes GROUP BY source
"""


@query("multimodal_audio_fingerprint")
def multimodal_audio_fingerprint(spark, sf_dir):
    """Audio dedup signal through the REAL WAV codec: the deterministic
    PCM16 assets decode back through the RIFF walk and hash to a
    16-window integer energy fingerprint
    (``operators.multimodal.audio_fingerprint``).  The oracle re-derives
    every bit closed-form from the generation formula — encode∘decode∘
    fingerprint is driver-checked."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import audio_fingerprint, encode_wav_pcm16

    # NO spread_input (tried in the r12 campaign, reverted): the synth
    # waveform is tiny per row and the isolated A/B read 0.56 -> 0.93 s
    # median — 32 Python tasks of setup for sub-second work (see
    # OPTIMIZATION_r12.md "spread_input re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(parts):
        for pdf in parts:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 32
                i = np.arange(n, dtype=np.int64)
                s = ((did * 7919 + i * 104729) % 65536 - 32768).astype(
                    np.int16)
                ids.append(did)
                payloads.append(encode_wav_pcm16(s, 16000))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, payload binary")
    return (audio_fingerprint(assets)
            .select(F.col("id").alias("doc_id"), "n_samples", "afp"))


ORACLES["multimodal_audio_fingerprint"] = """
WITH s AS (
  SELECT doc_id,
         [CAST(((doc_id * 7919 + i * 104729) % 65536) - 32768 AS BIGINT)
          FOR i IN generate_series(0, 63 + doc_id % 32)] AS smp
  FROM documents
), u AS (
  SELECT doc_id, abs(smp[u.i + 1]) AS a,
         (u.i * 16) // len(smp) AS w, len(smp) AS n
  FROM s,
  LATERAL (SELECT unnest(generate_series(0, len(smp) - 1)) AS i) u
), ws AS (
  SELECT doc_id, w, sum(a) AS sa, count(*) AS nw, any_value(n) AS n
  FROM u GROUP BY doc_id, w
), tot AS (
  SELECT doc_id, CAST(sum(sa) AS BIGINT) AS st, any_value(n) AS n
  FROM ws GROUP BY doc_id
)
SELECT ws.doc_id, CAST(tot.n AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN ws.sa * tot.n > tot.st * ws.nw
                     THEN (1::BIGINT << ws.w) ELSE 0 END) AS BIGINT)
         AS afp
FROM ws JOIN tot USING (doc_id)
GROUP BY ws.doc_id, tot.n
"""


@query("multimodal_video_fingerprint")
def multimodal_video_fingerprint(spark, sf_dir):
    """Video dedup signal through the REAL Y4M demux: the deterministic
    C444 assets demux back and hash to a temporally-pooled 4×8 luma
    grid fingerprint (``operators.multimodal.video_fingerprint``).  The
    8×4 synthetic frames make the grid sampling the identity, so the
    oracle re-derives every bit closed-form from the pixel formula —
    mux∘demux∘fingerprint is driver-checked."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_y4m, video_fingerprint

    W, H = 8, 4
    # NO spread_input (tried in the r12 campaign): reverted by
    # SHAPE-ANALOGY to the directly-measured video/resize twins (tiny
    # synth payloads, fan-out overhead dominates at bench scale) — not
    # its own isolated A/B (see OPTIMIZATION_r12.md "spread_input
    # re-measure")
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def synth(parts):
        for pdf in parts:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                f, p, i = np.meshgrid(np.arange(n), np.arange(3),
                                      np.arange(H * W), indexing="ij")
                frames = ((did * 31 + f * 97 + p * 53 + i * 7) % 256).astype(
                    np.uint8).reshape(n, 3, H, W)
                ids.append(did)
                payloads.append(encode_y4m(frames))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    assets = docs.mapInPandas(synth, "id long, payload binary")
    return (video_fingerprint(assets)
            .select(F.col("id").alias("doc_id"), "n_frames", "vfp"))


ORACLES["multimodal_video_fingerprint"] = """
WITH d AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
), px AS (
  SELECT doc_id, nf, u.i,
         (doc_id * 31 + v.f * 97 + u.i * 7) % 256 AS y
  FROM d,
  LATERAL (SELECT unnest(generate_series(0, 31)) AS i) u,
  LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) v
), ps AS (
  SELECT doc_id, any_value(nf) AS nf, i, CAST(sum(y) AS BIGINT) AS s
  FROM px GROUP BY doc_id, i
), tot AS (
  SELECT doc_id, CAST(sum(s) AS BIGINT) AS t FROM ps GROUP BY doc_id
)
SELECT ps.doc_id, CAST(any_value(ps.nf) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN ps.s * 32 > tot.t
                     THEN (1::BIGINT << ps.i) ELSE 0 END) AS BIGINT)
         AS vfp
FROM ps JOIN tot USING (doc_id)
GROUP BY ps.doc_id
"""


@query("multimodal_near_dup_groups")
def multimodal_near_dup_groups(spark, sf_dir):
    """Composed multimodal dedup end to end — the
    ``dedup_group_resolution`` shape over FINGERPRINT pairs: every doc
    carries one image, one audio and one video asset through the REAL
    codecs (PNG encode∘decode∘aHash, WAV RIFF∘energy bits, Y4M
    demux∘luma grid), each modality produces pigeonhole-blocked Hamming
    pairs (``phash_pairs``), the three edge lists union, and connected
    components resolve (doc_id, group_id, keep) with the keep-first
    canonical policy.

    Assets are synthesized so the GROUP STRUCTURE is genuinely
    multimodal — within each 4-doc block, image links {0,1} and {2,3}
    (Hamming-1: the odd member flips one hash cell), audio links {1,2}
    (Hamming-1), video links {0,3} (exact) — so the full component only
    emerges from the cross-modality transitive closure.  Fingerprint
    bits are md5-derived per asset key and threshold-exact (values
    200/10 around the strict mean), so the oracle re-derives every bit,
    every Hamming pair, and the closure closed-form.  Cites reference
    behavior: dedup keep-policy parity with `clustering.ts` pass-4 merge
    (keep-first), generalized to perceptual signals."""
    import hashlib

    import numpy as np
    import pandas as pd

    from ..operators import dedup as dd
    from ..operators.multimodal import (audio_fingerprint, decode_images,
                                        encode_png_rgb, encode_wav_pcm16,
                                        encode_y4m, perceptual_hash,
                                        phash_pairs, video_fingerprint)

    # spread_input: the synth/codec mapInPandas chain otherwise runs as
    # ONE task on single-row-group bench input (no-op at scale); synth is
    # per-row deterministic, so partitioning cannot change results
    docs = spread_input(_t(spark, sf_dir, "documents").select("doc_id"))

    def bits_of(key: int, nbits: int) -> np.ndarray:
        # vectorized nibble math — bit k = (nibble[k//4] >> (k%4)) & 1
        # over the hex digest, identical to the per-character int(hx[i],16)
        # loop it replaces (hex char 2j = high nibble of digest byte j)
        d = np.frombuffer(hashlib.md5(str(key).encode()).digest(),
                          dtype=np.uint8)
        nib = np.empty(32, dtype=np.int64)
        nib[0::2] = d >> 4
        nib[1::2] = d & 0xF
        k = np.arange(nbits)
        return (nib[k // 4] >> (k % 4)) & 1

    def synth(parts):
        for pdf in parts:
            img, aud, vid = [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                base, r = did - did % 4, did % 4
                # image: 8×8 gray PNG, cell k = 200/10 by md5 bit of the
                # PAIR key; odd member flips one cell → Hamming-1 pair
                ik = base + 2 * (r // 2)
                ib = bits_of(ik, 64)
                if r % 2 == 1:
                    ib[ik % 64] ^= 1
                px = np.where(ib, 200, 10).astype(np.uint8) \
                    .reshape(8, 8)[:, :, None].repeat(3, axis=2)
                img.append(encode_png_rgb(px))
                # audio: 63 windows × 4 samples, amplitude 20000/100
                ak = base + 1 if r in (1, 2) else did + 10**9
                ab = bits_of(ak, 63)
                if r == 2:
                    ab[ak % 63] ^= 1
                s = np.repeat(np.where(ab, 20000, 100), 4).astype(np.int16)
                aud.append(encode_wav_pcm16(s, 16000))
                # video: 2 identical 7×9 frames, luma 200/10 per cell
                vk = base if r in (0, 3) else did + 2 * 10**9
                vb = bits_of(vk, 63)
                y = np.where(vb, 200, 10).astype(np.uint8).reshape(7, 9)
                frames = np.stack([np.stack([y, np.full_like(y, 128),
                                             np.full_like(y, 128)])] * 2)
                vid.append(encode_y4m(frames))
            yield pd.DataFrame({"id": pdf["doc_id"].astype("int64"),
                                "img": img, "aud": aud, "vid": vid})

    from ..operators.barrier import materialize

    # LAZY persist — the r12 eager fill (materialize_now) reverted here
    # (r13, VERDICT r12 item 2).  The racing-leaf-stage duplicate synth
    # computes are real but BACK-FILL idle cores, while the eager count()
    # serializes the whole synth codec chain on the critical path:
    # isolated 32-core A/B (5 repeats, same session shape) reads eager
    # cold/warm 12.0 / 6.3 s vs lazy 11.9 / 5.5 s, agreeing with the
    # driver's r12 cold reading (5.41 → 7.52 s after the eager change).
    # This is the same verdict the r12 eager-fill A/B reached at the
    # dsir/simhash/winnow/curate sites.
    assets = materialize(docs.mapInPandas(
        synth, "id long, img binary, aud binary, vid binary"))

    ih = perceptual_hash(decode_images(assets.select(
        "id", F.col("img").alias("payload"))))
    ah = (audio_fingerprint(assets.select(
        "id", F.col("aud").alias("payload")), n_windows=63)
        .select("id", F.shiftrightunsigned("afp", 32).alias("ph_hi"),
                F.col("afp").bitwiseAND(F.lit(0xFFFFFFFF)).alias("ph_lo")))
    vh = (video_fingerprint(assets.select(
        "id", F.col("vid").alias("payload")), grid_h=7, grid_w=9)
        .select("id", F.shiftrightunsigned("vfp", 32).alias("ph_hi"),
                F.col("vfp").bitwiseAND(F.lit(0xFFFFFFFF)).alias("ph_lo")))
    edges = (phash_pairs(ih, max_hamming=3).select("id_a", "id_b")
             .union(phash_pairs(ah, max_hamming=3).select("id_a", "id_b"))
             .union(phash_pairs(vh, max_hamming=3).select("id_a", "id_b"))
             .distinct())
    out = dd.near_dup_groups(docs, "doc_id", edges)
    assets.unpersist()
    return out


ORACLES["multimodal_near_dup_groups"] = """
WITH RECURSIVE m AS (
  SELECT doc_id, doc_id - doc_id % 4 AS base, doc_id % 4 AS r
  FROM documents
), ik AS (
  SELECT doc_id, base + 2 * (r // 2) AS key, r % 2 = 1 AS fl FROM m
), ib AS (
  SELECT doc_id, u.k,
         CASE WHEN (((strpos('0123456789abcdef',
                      substr(md5(CAST(key AS VARCHAR)), 1 + u.k // 4, 1))
                      - 1) // (1 << (u.k % 4))) % 2 = 1)
                   != (fl AND u.k = key % 64)
              THEN 200 ELSE 10 END AS v
  FROM ik, LATERAL (SELECT unnest(generate_series(0, 63)) AS k) u
), isum AS (
  SELECT doc_id, sum(v) AS tot FROM ib GROUP BY doc_id
), ih AS (
  SELECT ib.doc_id,
         CAST(sum(CASE WHEN k >= 32 AND v * 64 > tot
                       THEN (1::BIGINT << (k - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
         CAST(sum(CASE WHEN k < 32 AND v * 64 > tot
                       THEN (1::BIGINT << k) ELSE 0 END)
              AS BIGINT) AS lo
  FROM ib JOIN isum USING (doc_id) GROUP BY ib.doc_id
), ak AS (
  SELECT doc_id,
         CASE WHEN r IN (1, 2) THEN base + 1
              ELSE doc_id + 1000000000 END AS key,
         r = 2 AS fl
  FROM m
), ab AS (
  SELECT doc_id, u.k,
         CASE WHEN (((strpos('0123456789abcdef',
                      substr(md5(CAST(key AS VARCHAR)), 1 + u.k // 4, 1))
                      - 1) // (1 << (u.k % 4))) % 2 = 1)
                   != (fl AND u.k = key % 63)
              THEN 20000 ELSE 100 END AS v
  FROM ak, LATERAL (SELECT unnest(generate_series(0, 62)) AS k) u
), asum AS (
  SELECT doc_id, sum(v) AS tot FROM ab GROUP BY doc_id
), ah AS (
  SELECT ab.doc_id,
         CAST(sum(CASE WHEN k >= 32 AND v * 63 > tot
                       THEN (1::BIGINT << (k - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
         CAST(sum(CASE WHEN k < 32 AND v * 63 > tot
                       THEN (1::BIGINT << k) ELSE 0 END)
              AS BIGINT) AS lo
  FROM ab JOIN asum USING (doc_id) GROUP BY ab.doc_id
), vk AS (
  SELECT doc_id,
         CASE WHEN r IN (0, 3) THEN base
              ELSE doc_id + 2000000000 END AS key,
         FALSE AS fl
  FROM m
), vb AS (
  SELECT doc_id, u.k,
         CASE WHEN ((strpos('0123456789abcdef',
                     substr(md5(CAST(key AS VARCHAR)), 1 + u.k // 4, 1))
                     - 1) // (1 << (u.k % 4))) % 2 = 1
              THEN 200 ELSE 10 END AS v
  FROM vk, LATERAL (SELECT unnest(generate_series(0, 62)) AS k) u
), vsum AS (
  SELECT doc_id, sum(v) AS tot FROM vb GROUP BY doc_id
), vh AS (
  SELECT vb.doc_id,
         CAST(sum(CASE WHEN k >= 32 AND v * 63 > tot
                       THEN (1::BIGINT << (k - 32)) ELSE 0 END)
              AS BIGINT) AS hi,
         CAST(sum(CASE WHEN k < 32 AND v * 63 > tot
                       THEN (1::BIGINT << k) ELSE 0 END)
              AS BIGINT) AS lo
  FROM vb JOIN vsum USING (doc_id) GROUP BY vb.doc_id
), e0 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ih a JOIN ih b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
  UNION
  SELECT a.doc_id, b.doc_id
  FROM ah a JOIN ah b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
  UNION
  SELECT a.doc_id, b.doc_id
  FROM vh a JOIN vh b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
), e AS (
  SELECT id_a AS a, id_b AS b FROM e0
  UNION SELECT id_b, id_a FROM e0
), reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a
)
SELECT d.doc_id,
       coalesce(c.group_id, d.doc_id) AS group_id,
       coalesce(c.group_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


@query("stream_curate_stats")
def stream_curate_stats(spark, sf_dir):
    """Incremental corpus curation (streaming twin of
    ``curate_corpus``): stateless gates + cross-batch dedup state +
    stream-static decontamination, drained availableNow to per-source
    verdict counts.  Dedup state keys (source, digest) — per-SOURCE
    unique semantics, unlike the batch pipeline's global-digest window
    (first-arrival order across sources is nondeterministic in a
    stream, the composite key restores batch parity); the oracle
    encodes exactly these semantics
    (``streaming/documents.py::streaming_curation_stats``)."""
    from ..streaming.documents import streaming_curation_stats

    return streaming_curation_stats(spark, sf_dir)


ORACLES["stream_curate_stats"] = """
WITH base AS MATERIALIZED (
  SELECT doc_id, source, text,
         doc_id % 29 = 0 AS bench,
         CASE WHEN len(text) > 0 THEN
           (least(CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT), 64)
            * (CAST(len(text) AS BIGINT)
               - CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                      AS BIGINT))
            * 1000000)
           // (64 * CAST(len(text) AS BIGINT))
         ELSE 0 END >= 300000 AS q_ok
  FROM documents
), pool AS MATERIALIZED (
  SELECT source, md5(text) AS digest, text
  FROM base WHERE NOT bench AND q_ok
), per AS (
  SELECT source, count(*) AS n_pool,
         count(DISTINCT digest) AS n_unique
  FROM pool GROUP BY source
), bsh AS MATERIALIZED (
  SELECT DISTINCT array_to_string(list_slice(w, u.i, u.i + 4), ' ')
           AS shingle
  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM base WHERE bench) t,
  LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) u
  WHERE len(w) >= 5
), psh AS (
  SELECT DISTINCT p.source, p.digest,
         array_to_string(list_slice(t.w, u.i, u.i + 4), ' ') AS shingle
  FROM pool p,
  LATERAL (SELECT list_filter(string_split(p.text, ' '),
                              x -> x <> '') AS w) t,
  LATERAL (SELECT unnest(generate_series(1, len(t.w) - 4)) AS i) u
  WHERE len(t.w) >= 5
), contq AS (
  SELECT source, count(DISTINCT digest) AS n_cont
  FROM psh WHERE shingle IN (SELECT shingle FROM bsh)
  GROUP BY source
), flags AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN bench THEN 1 ELSE 0 END) AS n_benchmark,
         sum(CASE WHEN NOT bench AND NOT q_ok THEN 1 ELSE 0 END)
           AS n_quality
  FROM base GROUP BY source
)
SELECT f.source,
       CAST(f.n_docs AS BIGINT) AS n_docs,
       CAST(f.n_benchmark AS BIGINT) AS n_benchmark,
       CAST(f.n_quality AS BIGINT) AS n_quality,
       CAST(coalesce(per.n_pool, 0) - coalesce(per.n_unique, 0)
            AS BIGINT) AS n_dup,
       CAST(coalesce(contq.n_cont, 0) AS BIGINT) AS n_contaminated,
       CAST(coalesce(per.n_unique, 0) - coalesce(contq.n_cont, 0)
            AS BIGINT) AS n_kept
FROM flags f
LEFT JOIN per USING (source)
LEFT JOIN contq USING (source)
"""


@query("stream_winnow_pairs")
def stream_winnow_pairs(spark, sf_dir):
    """Incremental winnowing near-dup detection
    (``streaming/documents.py::streaming_winnow_pairs``): each
    micro-batch fingerprints only its NEW documents and pairs them
    against the standing fingerprint postings — pairs emit the moment
    the later document arrives, n_shared final at discovery (per-doc
    fingerprint sets are immutable), so the drained ledger equals the
    batch ``winnow_fingerprint_pairs`` answer exactly; the oracle is
    that query's oracle verbatim."""
    from ..streaming.documents import streaming_winnow_pairs

    return streaming_winnow_pairs(spark, sf_dir)


# force the batch twin's module (shared ORACLES dict) before aliasing
from . import training as _training  # noqa: E402,F401

ORACLES["stream_winnow_pairs"] = ORACLES["winnow_fingerprint_pairs"]


@query("stream_ivf_index")
def stream_ivf_index(spark, sf_dir):
    """Incremental IVF vector-index maintenance
    (``streaming/embeddings.py::streaming_ivf_index``): centroids
    frozen from the batch operator's own sample-trained spherical
    k-means, each micro-batch assigns only its NEW vectors to their
    cell, postings land in replay-idempotent ``batch=<id>`` partitions.
    Output is the per-cell posting sizes — the index-balance signal an
    IVF deployment monitors.  Approximate family (float-argmax cell
    assignment has no SQL twin): rows-only here; pinned EQUAL to the
    batch assignment of the same corpus in pytest, incl. a forced
    multi-batch drain and a re-delivery."""
    from ..streaming.embeddings import streaming_ivf_index

    return streaming_ivf_index(spark, sf_dir)


@query("stream_minhash_pairs")
def stream_minhash_pairs(spark, sf_dir):
    """Incremental MinHash-LSH near-dup detection
    (``streaming/documents.py::streaming_minhash_pairs``): per batch,
    signatures + band keys for NEW documents only, candidates from the
    in-batch ∪ new-vs-standing band joins, EXACT-Jaccard verification
    against the standing shingle postings.  Drained ledger equals the
    batch ``dedup_minhash_lsh`` output exactly (pinned by test) —
    approximate-by-design like its batch twin (LSH banding can miss
    pairs; the recall harness bounds it), so rows-only here."""
    from ..streaming.documents import streaming_minhash_pairs

    return streaming_minhash_pairs(spark, sf_dir)

"""Run-topology normalization (SURVEY.md §2.10) — the reference's
accumulate-everything ``RunNormalizerAccumulator`` re-expressed as a
distributed plan.

Reference semantics (not implementation):
- shared-arc discovery via coordinate quantization
  (src/transforms/accumulator/RunNormalizerAccumulator.ts:36-47)
- per-arc property merge + oneway/direction reconciliation
  (src/transforms/normalization/MergeOverlappingRuns.ts:25-157,
   src/transforms/normalization/RunJoining.ts:46-208)
- degenerate-segment drop + chain merge of consecutive equal-property
  LineStrings at shared endpoints
  (src/transforms/normalization/CombineRunSegments.ts:14-46,
   src/transforms/normalization/PointGraph.ts:13-134)
- id re-hash after geometry change
  (src/transforms/accumulator/RunNormalizerAccumulator.ts:48-51)

Spark plan (one DAG, no driver-side accumulation):

1. explode LineString runs into quantized *segments* (consecutive
   coordinate pairs; key = sorted endpoint keys at 1e-7 degrees);
2. ``groupBy(segment)`` with the A1 merge aggregation — overlapping runs
   collapse to one segment with merged properties; opposing oneway
   directions reconcile to ``oneway=false``;
3. ``groupBy(fingerprint)`` over the merged segments — the fingerprint
   is the ``isPartOfSameRun`` property equality, ignoring
   id/sources/skiAreas, and segments chain only within one — and one
   ``applyInPandas`` walk per group: a union-find joins the two segments
   at each point that exactly two of them touch (head-to-tail only for
   oneway runs), and each component is stitched into one LineString with
   the union of its segments' sources and ski areas;
4. content-hash id recomputation.

The segment explode/groupBy shuffles on spatially-local keys and
materializes one row per quantized arc.  A chain walk costs one pass over
its fingerprint group however long the chain is; a group holds the runs
that share all the fingerprint properties (the reference holds every run
in one process).

Determinism deviations from the single-threaded reference (documented):
merged array fields and sanitize-unique-joined strings are sorted rather
than first-seen-ordered, and "first non-null" reducers use ``min`` — a
distributed engine has no stable stream order to preserve.
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import feature_id
from ..operators.priority import priority_merge_agg, tristate_or_agg
from .clustering import _find, _union

QUANT = 7  # endpoint quantization decimals (PointMultiMap.ts:19)

DIFFICULTY_PRIORITY = ["novice", "easy", "intermediate", "advanced",
                       "expert", "freeride", "extreme"]
GROOMING_PRIORITY = ["classic+skating", "skating", "classic", "mogul",
                     "scooter", "backcountry"]
STATUS_PRIORITY = ["operating", "construction", "planned", "proposed",
                   "disused", "abandoned"]

# Properties participating in the isPartOfSameRun equality
# (RunJoining.ts:14-44 — everything except id/sources/skiAreas/
# elevationProfile/places/viewportHint; geometry is never compared).
FINGERPRINT_COLS = ["uses", "name", "ref", "description", "difficulty",
                    "difficulty_convention", "oneway", "gladed", "patrolled",
                    "snowmaking", "snowfarming", "tunnel", "lit", "grooming",
                    "status", "websites", "wikidata_id"]


def _sanitize_unique_join(col_name: str):
    """sanitizeUniqueAndJoin (RunJoining.ts:140-153): trim, drop empties,
    dedupe, join ", " (sorted for distributed determinism)."""
    vals = F.array_sort(F.array_distinct(F.filter(
        F.transform(F.collect_list(col_name), lambda v: F.trim(v)),
        lambda v: v != "")))
    return F.when(F.size(vals) > 0, F.concat_ws(", ", vals))


def explode_segments(lines: DataFrame) -> DataFrame:
    """LineString runs → one row per consecutive coordinate pair, in
    canonical (sorted-endpoint-key) orientation.

    Output adds: seg_key, a_key, b_key (quantized), coords (the 2-point
    segment, canonically oriented), is_reversed (true when the run
    traverses the segment b→a).
    """
    coords = F.from_json(
        F.get_json_object("geometry", "$.coordinates"),
        "array<array<double>>")
    seg = (
        lines.withColumn("__coords", coords)
        .withColumn("__i", F.explode(F.sequence(
            F.lit(0), F.greatest(F.size("__coords") - 2, F.lit(0)))))
        .filter(F.size("__coords") >= 2)
        .withColumn("__a", F.col("__coords")[F.col("__i")])
        .withColumn("__b", F.col("__coords")[F.col("__i") + 1])
        .drop("__coords")
    )

    def key(pt):
        return F.concat_ws(",", F.round(pt[0], QUANT), F.round(pt[1], QUANT))

    a_key, b_key = key(F.col("__a")), key(F.col("__b"))
    rev = a_key > b_key  # canonical orientation: min key first
    return (
        seg.withColumn("is_reversed", rev)
        .withColumn("a_key", F.when(rev, b_key).otherwise(a_key))
        .withColumn("b_key", F.when(rev, a_key).otherwise(b_key))
        .withColumn("coords", F.when(rev, F.array("__b", "__a"))
                               .otherwise(F.array("__a", "__b")))
        .withColumn("seg_key", F.concat_ws("|", "a_key", "b_key"))
        .drop("__a", "__b", "__i")
        # degenerate (quantization-collapsed) segments
        # (CombineRunSegments.ts:14-16)
        .filter(F.col("a_key") != F.col("b_key"))
    )


def merge_segments(segments: DataFrame) -> DataFrame:
    """Per-arc A1 merge (mergedProperties + getDirectionData).

    One output row per quantized segment; all property reducers run as a
    single partial+final hash aggregation."""
    n_true_fwd = F.sum(F.when(F.col("oneway") & ~F.col("is_reversed"), 1)
                       .otherwise(0))
    n_true_rev = F.sum(F.when(F.col("oneway") & F.col("is_reversed"), 1)
                       .otherwise(0))
    any_false = F.max(F.when(F.col("oneway") == False, 1).otherwise(0))  # noqa: E712

    merged = segments.groupBy("seg_key").agg(
        F.first("a_key").alias("a_key"),
        F.first("b_key").alias("b_key"),
        F.min("coords").alias("coords"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("uses"))))
            .alias("uses"),
        _sanitize_unique_join("name").alias("name"),
        _sanitize_unique_join("ref").alias("ref"),
        _sanitize_unique_join("description").alias("description"),
        priority_merge_agg(F.col("difficulty"), DIFFICULTY_PRIORITY)
            .alias("difficulty"),
        F.min("difficulty_convention").alias("difficulty_convention"),
        priority_merge_agg(F.col("status"), STATUS_PRIORITY).alias("status"),
        tristate_or_agg(F.col("gladed")).alias("gladed"),
        tristate_or_agg(F.col("patrolled")).alias("patrolled"),
        tristate_or_agg(F.col("snowmaking")).alias("snowmaking"),
        tristate_or_agg(F.col("snowfarming")).alias("snowfarming"),
        tristate_or_agg(F.col("tunnel")).alias("tunnel"),
        tristate_or_agg(F.col("lit")).alias("lit"),
        priority_merge_agg(F.col("grooming"), GROOMING_PRIORITY)
            .alias("grooming"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("ski_areas"))))
            .alias("ski_areas"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sources"))))
            .alias("sources"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("websites"))))
            .alias("websites"),
        F.min("wikidata_id").alias("wikidata_id"),
        n_true_fwd.alias("__n_fwd"),
        n_true_rev.alias("__n_rev"),
        any_false.alias("__any_false"),
    )

    # getDirectionData (MergeOverlappingRuns.ts:128-157): any oneway=false
    # → false; opposing oneway=true directions → false; agreeing
    # oneway=true → true with that orientation; else null.  Geometry
    # orientation follows the oneway=true runs whenever they agree — even
    # when an explicit oneway=false forces the merged flag to false, the
    # reference reduce keeps the oneway path's isReversed (:142-146, pinned
    # by the unit vector at :149); only the no-oneway-info and opposing
    # cases fall back to canonical orientation (first-seen in the
    # reference's stream — unknowable distributed, documented deviation).
    opposing = (F.col("__n_fwd") > 0) & (F.col("__n_rev") > 0)
    oneway = (F.when(F.col("__any_false") == 1, F.lit(False))
               .when(opposing, F.lit(False))
               .when((F.col("__n_fwd") + F.col("__n_rev")) > 0, F.lit(True))
               .otherwise(F.lit(None).cast("boolean")))
    run_reversed = (F.col("__n_rev") > 0) & (F.col("__n_fwd") == 0)

    return (merged
            .withColumn("oneway", oneway)
            .withColumn("is_reversed", F.coalesce(run_reversed, F.lit(False)))
            .drop("__n_fwd", "__n_rev", "__any_false"))


def _stitch(segs: list[dict], oneway: bool) -> list[list[float]]:
    """One chain's coordinates (PointGraph): from a free end (for oneway
    chains, one where travel starts), or around a cycle."""
    by_point: dict[str, list[int]] = {}
    for i, s in enumerate(segs):
        by_point.setdefault(s["start"], []).append(i)
        by_point.setdefault(s["end"], []).append(i)

    # chain start: for oneway, a vertex that is only a start; otherwise
    # any degree-1 vertex; cycles fall back to the min key.
    cands = [(p, ids[0]) for p, ids in sorted(by_point.items())
             if len(ids) == 1 and (not oneway or segs[ids[0]]["start"] == p)]
    if cands:
        point, cur = cands[0]
    else:  # cycle
        point = min(by_point)

        # Deterministic first-segment choice: prefer the segment that
        # STARTS here (for oneway cycles that is the travel direction; a
        # backwards start would reverse a oneway loop), tie-break on the
        # neighbor endpoint key.
        def cand_key(i: int):
            s = segs[i]
            starts_here = s["start"] == point
            return (not starts_here, s["end"] if starts_here else s["start"])

        cur = min(by_point[point], key=cand_key)
    visited = set()
    path: list[list[float]] = []
    while cur is not None and cur not in visited:
        visited.add(cur)
        s = segs[cur]
        forward = s["start"] == point
        coords = s["coords"] if forward else s["coords"][::-1]
        point = s["end"] if forward else s["start"]
        path.extend(coords if not path else coords[1:])
        nxt = [i for i in by_point.get(point, []) if i not in visited]
        cur = nxt[0] if nxt else None
    return path


def _union_col(rows: list[dict], col: str) -> list:
    """Chain-level re-merge of a non-fingerprint array: distinct items,
    sorted by their JSON text.  (Every other property is part of the
    fingerprint, so the chain's first row holds it.)"""
    items = {json.dumps(item, sort_keys=True, default=str): item
             for r in rows for item in r[col]}
    return [items[k] for k in sorted(items)]


def _walk_fingerprint(pdf: pd.DataFrame, prop_cols: list[str]) -> pd.DataFrame:
    """``applyInPandas`` body: one fingerprint's merged segments → one row
    per chain.  A point that exactly two segments touch joins them (for
    oneway runs only when one starts and the other ends there: PointGraph
    chains head-to-tail, PointGraph.ts:70-134); each union-find component
    is one chain."""
    rows = pdf.sort_values("seg_key").to_dict("records")
    oneway = bool(rows[0]["oneway"])  # one fingerprint, one oneway flag
    segs, at_point = [], {}
    for i, r in enumerate(rows):
        coords = [list(c) for c in r["coords"]]
        ends = [r["a_key"], r["b_key"]]
        if r["is_reversed"]:  # travel order
            coords, ends = coords[::-1], ends[::-1]
        segs.append({"start": ends[0], "end": ends[1], "coords": coords})
        at_point.setdefault(ends[0], []).append((i, "start"))
        at_point.setdefault(ends[1], []).append((i, "end"))
    parent = list(range(len(segs)))
    for ends in at_point.values():
        if len(ends) == 2 and (not oneway or ends[0][1] != ends[1][1]):
            _union(parent, ends[0][0], ends[1][0])
    chains: dict[int, list[int]] = {}
    for i in range(len(segs)):
        chains.setdefault(_find(parent, i), []).append(i)

    out = []
    for ids in chains.values():
        chain = [rows[i] for i in ids]
        out.append({**{c: chain[0][c] for c in prop_cols},
                    "sources": _union_col(chain, "sources"),
                    "ski_areas": _union_col(chain, "ski_areas"),
                    "geometry": json.dumps(
                        {"coordinates": _stitch([segs[i] for i in ids], oneway),
                         "type": "LineString"},
                        separators=(",", ":"), sort_keys=True)})
    return pd.DataFrame(out, columns=[*prop_cols, "geometry"])


def combine_segments(merged: DataFrame) -> DataFrame:
    """Chain-merge consecutive equal-property segments (PointGraph): one
    ``groupBy(fingerprint).applyInPandas`` walk.  Segments chain only
    within a fingerprint (the ``isPartOfSameRun`` equality), so each group
    holds every chain it can form."""
    seg = merged.withColumn(
        "fingerprint", F.sha2(F.to_json(F.struct(*FINGERPRINT_COLS)), 256))
    out_schema = seg.drop("seg_key", "a_key", "b_key", "coords",
                          "is_reversed", "fingerprint").schema
    out_schema.add("geometry", "string")
    prop_cols = out_schema.fieldNames()[:-1]
    return (seg.groupBy("fingerprint")
            .applyInPandas(lambda pdf: _walk_fingerprint(pdf, prop_cols),
                           out_schema)
            .withColumn("id", feature_id(F.lit("run"), F.col("geometry"))))


def normalize_runs(runs: DataFrame) -> DataFrame:
    """Full §2.10 normalization: LineString runs are segment-deduped,
    property-merged, and chain-stitched; polygon runs pass through
    unchanged (the reference only normalizes lines)."""
    geom_type = F.get_json_object("geometry", "$.type")
    lines = runs.filter(geom_type == "LineString")
    others = runs.filter(geom_type != "LineString")
    normalized = (combine_segments(merge_segments(explode_segments(lines)))
                  .withColumn("feature_type", F.lit("run")))
    return normalized.select(*runs.columns).unionByName(others)

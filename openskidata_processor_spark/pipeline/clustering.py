"""Ski-area clustering (SURVEY.md §2.9) — the reference's PostGIS-backed
recursive clustering service, run region by region.

Reference semantics (src/clustering/SkiAreaClusteringService.ts:337-447):
 1. site ski areas get geometry + activities from their members
 2. OSM polygon ski areas claim contained objects; removed when empty or
    when >50% of member length already belongs to a site relation
 3. OSM ski areas expand transitively (500 m, shared activity) over
    objects not yet in any ski area
 4. Skimap.org ski areas within 250 m of an OSM ski area's objects merge
    into it (property union) and disappear
 5. remaining Skimap.org ski areas expand transitively
 6. still-unassigned runs seed *generated* ski areas; downhill is dropped
    when the cluster has no lift
 7. geocoding — optional enrichment, not part of clustering parity
 8. lift stations associate to the nearest lift within 30 m
 9. ski areas are augmented (statistics, representative geometry);
    OSM ski areas without members are removed
10. ski areas still on a placeholder geometry are removed

Every interaction in passes 2–8 is within 500 m of an object or goes
through site membership, so clustering splits into independent *regions*
and runs in three steps:

1. one grid-cell distance self-join over objects and ski areas
   (``proximity_pairs``) measures every pair within 500 m once: its exact
   ``min_distance_km`` and whether the object is covered by the polygon;
2. one ``connected_components`` call over those pairs, the object → site
   ski-area membership edges and a self-loop per vertex gives every object
   and ski area its region;
3. one ``groupBy(region).applyInPandas`` runs passes 1–10 as plain Python
   over the region's rows (``cluster_region``), the A2 statistics of pass
   9 included (``statistics.ski_area_statistics``: a ski area's members
   all lie in its region).  The per-seed recursion (visitObject,
   :705-779) becomes per-activity union-find over the region's pair
   lists, so a region costs O(pairs).

The write-back of memberships and stations to the layers stays DataFrame
joins.

Documented deviations from the sequential reference (the integration
suite's scenarios still hold): contested transitive claims resolve to the
lexicographically-smallest ski-area id instead of iteration order, and
generated ski-area ids are content hashes of the member set instead of
random UUIDs (deterministic across runs — a distributed-engine
requirement).
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import defaultdict

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DataType, DoubleType, LongType,
                               StringType, StructField, StructType)

from ..functions import geometry as geo
from ..operators.barrier import truncate_lineage
from ..operators.graph import connected_components
from .formatters import STATION_ARRAY_DDL
from .statistics import STATISTICS_DDL, ski_area_statistics

MAX_DISTANCE_KM = 0.5       # SkiAreaClusteringService.ts:66
MERGE_DISTANCE_KM = 0.25    # :826
STATION_DISTANCE_KM = 0.03  # LiftStationAssociator.ts:12
ALL_ACTIVITIES = ("downhill", "nordic")

# Columns of the working tables: ``prepare_objects`` rows (``status`` is a
# lift's, null for runs and spots) and ski areas.
OBJECT_COLUMNS = (
    "id", "obj_type", "geometry", "activities", "ski_areas",
    "is_in_ski_area_site", "difficulty", "snowmaking", "snowfarming",
    "lift_type", "spot_type", "status", "is_basis_for_new_ski_area",
    "is_in_ski_area_polygon")
SKI_AREA_COLUMNS = (
    "id", "name", "sources", "activities", "status", "websites",
    "wikidata_id", "run_convention", "geometry", "is_polygon", "source")
# ``cluster_region`` adds these; ``kind`` tells objects from ski areas.
STATION_COLUMNS = ("associated_lift_id", "inferred_position")
WALK_COLUMNS = (("kind",) + OBJECT_COLUMNS + STATION_COLUMNS
                + tuple(c for c in SKI_AREA_COLUMNS if c not in OBJECT_COLUMNS)
                + ("n_members", "statistics"))


def _act_array(*acts: str) -> Column:
    return F.array(*[F.lit(a) for a in acts])


def _is_placeholder(geom: Column) -> Column:
    """Site placeholder Point [360, 360, id] (PlaceholderSiteGeometry.ts).
    Null-safe: non-Point geometries yield false, not null (a null here
    would silently drop rows in ``filter(~...)``)."""
    return F.coalesce(
        (F.get_json_object(geom, "$.coordinates[0]") == "360")
        & (F.get_json_object(geom, "$.coordinates[1]") == "360"),
        F.lit(False))


# ---------------------------------------------------------------------------
# object preparation (SkiAreaClusteringService.ts:188-335)
# ---------------------------------------------------------------------------

def prepare_objects(runs: DataFrame, lifts: DataFrame,
                    spots: DataFrame) -> DataFrame:
    """Unified working table of runs/lifts/spots with clustering flags."""
    backcountry_unpatrolled = (
        (F.size("ski_areas") == 0)
        & (F.col("grooming") == "backcountry")
        & (F.coalesce(F.col("patrolled"), F.lit(False)) != True))  # noqa: E712
    run_acts = F.when(backcountry_unpatrolled, _act_array()).otherwise(
        F.array_distinct(F.filter(F.transform(
            F.col("uses"),
            lambda u: (F.when(u.isin("downhill", "snow_park"), "downhill")
                        .when(u == "nordic", "nordic"))),
            lambda a: a.isNotNull())))
    r = runs.select(
        F.col("id"), F.lit("run").alias("obj_type"), F.col("geometry"),
        run_acts.alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.col("difficulty"), F.col("snowmaking"), F.col("snowfarming"),
        F.lit(None).cast("string").alias("lift_type"),
        F.lit(None).cast("string").alias("spot_type"),
        F.lit(None).cast("string").alias("status"),
        ((F.arrays_overlap(F.col("uses"), _act_array("downhill", "nordic")))
         & (F.size(run_acts) > 0)
         & (F.size("ski_areas") == 0)).alias("is_basis_for_new_ski_area"),
    )
    l = lifts.select(
        F.col("id"), F.lit("lift").alias("obj_type"), F.col("geometry"),
        F.when(F.col("status") == "operating", _act_array("downhill"))
         .otherwise(_act_array()).alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.lit(None).cast("string").alias("difficulty"),
        F.lit(None).cast("boolean").alias("snowmaking"),
        F.lit(None).cast("boolean").alias("snowfarming"),
        F.col("lift_type"),
        F.lit(None).cast("string").alias("spot_type"),
        F.col("status"),
        F.lit(False).alias("is_basis_for_new_ski_area"),
    )
    spot_acts = (
        F.when(F.col("spot_type").isin("lift_station", "halfpipe"),
               _act_array("downhill"))
        .when(F.col("spot_type").isin("crossing",
                                      "avalanche_transceiver_training",
                                      "avalanche_transceiver_checkpoint"),
              _act_array("downhill", "nordic"))
        .otherwise(_act_array()))
    s = spots.select(
        F.col("id"), F.lit("spot").alias("obj_type"), F.col("geometry"),
        spot_acts.alias("activities"),
        F.col("ski_areas"),
        (F.size("ski_areas") > 0).alias("is_in_ski_area_site"),
        F.lit(None).cast("string").alias("difficulty"),
        F.lit(None).cast("boolean").alias("snowmaking"),
        F.lit(None).cast("boolean").alias("snowfarming"),
        F.lit(None).cast("string").alias("lift_type"),
        F.col("spot_type"),
        F.lit(None).cast("string").alias("status"),
        F.lit(False).alias("is_basis_for_new_ski_area"),
    )
    return r.unionByName(l).unionByName(s) \
        .withColumn("is_in_ski_area_polygon", F.lit(False))


# ---------------------------------------------------------------------------
# the pair table: one grid join (grid cells → exact distance)
# ---------------------------------------------------------------------------

def _cover_udf(cell_deg: float, pad_cells: int, radius_km: float = 0.0):
    from pyspark.sql.types import ArrayType, LongType

    n_x = int(math.ceil(360.0 / cell_deg))

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(gj: pd.Series) -> pd.Series:
        out = []
        for s in gj:
            cells = geo.covering_cells(json.loads(s), cell_deg)
            if pad_cells and cells:
                # Longitude degrees shrink by cos(lat): a fixed x-pad sized
                # for the equator under-covers above ~60°N/S and silently
                # drops true pairs.  Size the x-pad from the geometry's own
                # max |lat| (cell edge, + the y-pad the neighbor search can
                # move), clamped near the poles where the grid degenerates.
                max_abs_cy = max(abs(cy) for _, cy in cells)
                lat = min((max_abs_cy + 1 + pad_cells) * cell_deg, 89.0)
                lon_km_per_cell = (geo.KM_PER_DEG_LAT
                                   * math.cos(math.radians(lat)) * cell_deg)
                pad_x = max(pad_cells,
                            int(math.ceil(radius_km / lon_km_per_cell)))
                pad_x = min(pad_x, n_x // 2)  # full wrap cap
            else:
                pad_x = 0
            padded = set()
            for cx, cy in cells:
                for dx in range(-pad_x, pad_x + 1):
                    for dy in range(-pad_cells, pad_cells + 1):
                        padded.add(((cx + dx) % n_x) * 10_000_000 + (cy + dy))
            out.append(sorted(padded))
        return pd.Series(out)
    return _udf


def measure_pair(ga: dict, kind_a: str, gb: dict, kind_b: str
                 ) -> tuple[float, bool]:
    """(min_distance_km, covered) of two nodes of the pair table.
    ``covered`` is ST_CoveredBy(object, polygon ski area) for an object
    paired with a ``polygon`` node; covering implies distance 0."""
    d = geo.min_distance_km(ga, gb)
    covered = d == 0.0 and (
        (kind_a == "object" and kind_b == "polygon"
         and geo.covered_by(ga, gb))
        or (kind_b == "object" and kind_a == "polygon"
            and geo.covered_by(gb, ga)))
    return d, covered


_PAIR_TYPE = StructType([StructField("distance_km", DoubleType()),
                         StructField("covered", BooleanType())])


@F.pandas_udf(_PAIR_TYPE)
def _measure_udf(ga: pd.Series, ka: pd.Series, gb: pd.Series,
                 kb: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [measure_pair(json.loads(a), x, json.loads(b), y)
         for a, x, b, y in zip(ga, ka, gb, kb)],
        columns=["distance_km", "covered"])


def proximity_pairs(nodes: DataFrame) -> DataFrame:
    """Every pair of ``nodes`` (id, geometry, kind) within MAX_DISTANCE_KM,
    once with ``a < b``: (a, b, distance_km, covered).  ``kind`` is
    ``object``, ``polygon`` (a polygon ski area) or ``ski_area``.

    Candidates come from a cell equi-join — the left side padded by the
    radius — and the exact predicate runs on candidates only.  A hot cell
    (a mega-resort) is left to AQE's skew join."""
    cell = MAX_DISTANCE_KM / geo.KM_PER_DEG_LAT
    pad = int(math.ceil(MAX_DISTANCE_KM / (geo.KM_PER_DEG_LAT * cell)))
    left = nodes.select(
        F.col("id").alias("a"), F.col("geometry").alias("ga"),
        F.col("kind").alias("ka"),
        F.explode(_cover_udf(cell, pad, MAX_DISTANCE_KM)("geometry"))
        .alias("cell"))
    right = nodes.select(
        F.col("id").alias("b"), F.col("geometry").alias("gb"),
        F.col("kind").alias("kb"),
        F.explode(_cover_udf(cell, 0)("geometry")).alias("cell"))
    cand = (left.join(right, "cell").filter(F.col("a") < F.col("b"))
            .drop("cell").dropDuplicates(["a", "b"]))
    return (cand.select("a", "b", _measure_udf("ga", "ka", "gb", "kb")
                        .alias("m"))
            .select("a", "b", "m.distance_km", "m.covered")
            .filter(F.col("distance_km") <= MAX_DISTANCE_KM))


# ---------------------------------------------------------------------------
# the per-region walk (plain Python over row dicts)
# ---------------------------------------------------------------------------

def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _collection(geoms: list[str]) -> str:
    """GeometryCollection of member geometry strings, in the given order."""
    return _dumps(geo.geometry_collection([json.loads(g) for g in geoms]))


def _placeholder(geom: str) -> bool:
    """Python twin of ``_is_placeholder``: integer 360, 360 coordinates."""
    if "360" not in geom:
        return False
    c = json.loads(geom).get("coordinates")
    return (isinstance(c, list) and len(c) >= 2
            and all(type(v) is int and v == 360 for v in c[:2]))


def _compatible(a: list, b: list) -> bool:
    """Shared activity, treating an empty ski-area activity set as
    wildcard (activitiesForClustering, :617-620)."""
    return not a or not b or bool(set(a) & set(b))


def _source_key(src: dict) -> tuple:
    # Spark's struct ordering: field by field, nulls first
    return tuple((src[k] is not None, src[k]) for k in ("type", "id"))


def generated_id(member_ids: list[str]) -> str:
    """``gen_`` + 28 hex digits of sha256 over Spark's
    ``cast(array<string> as string)`` rendering of the sorted member ids."""
    text = "[" + ", ".join(sorted(set(member_ids))) + "]"
    return "gen_" + hashlib.sha256(text.encode()).hexdigest()[:28]


def _find(parent: dict, v: str) -> str:
    root = v
    while parent[root] != root:
        root = parent[root]
    while parent[v] != root:
        parent[v], v = root, parent[v]
    return root


def _union(parent: dict, a: str, b: str) -> None:
    ra, rb = _find(parent, a), _find(parent, b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)


class _Region:
    """One region's working tables, mutated pass by pass."""

    def __init__(self, objects, ski_areas, pairs):
        self.objs = sorted(({**o, "associated_lift_id": None,
                             "inferred_position": None} for o in objects),
                           key=lambda o: o["id"])
        self.sas = sorted((dict(s) for s in ski_areas),
                          key=lambda s: s["id"])
        self.obj = {o["id"]: o for o in self.objs}
        self.nbrs = defaultdict(list)
        self.dist = {}
        self.covered = set()     # (object id, polygon ski-area id)
        for a, b, d, covered in sorted(pairs):
            self.nbrs[a].append((b, d))
            self.nbrs[b].append((a, d))
            self.dist[a, b] = self.dist[b, a] = d
            if covered:
                self.covered.add((a, b) if a in self.obj else (b, a))
        self._shapes = {}

    def shape(self, geom: str) -> dict:
        if geom not in self._shapes:
            self._shapes[geom] = json.loads(geom)
        return self._shapes[geom]

    def members(self) -> dict[str, list[dict]]:
        out = defaultdict(list)
        for o in self.objs:
            for sid in o["ski_areas"]:
                out[sid].append(o)
        return out

    def assign(self, new: dict[str, set], polygon: bool = False) -> None:
        for oid, sids in new.items():
            o = self.obj[oid]
            o["ski_areas"] = sorted(set(o["ski_areas"]) | sids)
            if polygon:
                o["is_in_ski_area_polygon"] = True

    def derive_activities(self) -> None:
        """Ski areas with no activities inherit the union of member
        activities ∩ {downhill, nordic} (getActivitiesBasedOnRunsAndLifts)."""
        members = self.members()
        for s in self.sas:
            if not s["activities"]:
                acts = sorted({a for m in members[s["id"]]
                               for a in m["activities"]
                               if a in ALL_ACTIVITIES})
                if acts:
                    s["activities"] = acts

    def site_geometry(self) -> None:
        """Pass 1: placeholder geometries become the member collection."""
        self.derive_activities()
        members = self.members()
        for s in self.sas:
            ms = members[s["id"]]
            if ms and _placeholder(s["geometry"]):
                s["geometry"] = _collection(sorted(m["geometry"] for m in ms))
                s["is_polygon"] = False

    def polygon_claims(self) -> None:
        """Pass 2: OSM polygons claim covered objects, then go when they
        have no run or lift, or when over half of their members' length
        is in a site relation (:654-700)."""
        polys = {s["id"]: s for s in self.sas
                 if s["is_polygon"] and s["source"] == "openstreetmap"}
        contained = defaultdict(list)
        for oid, sid in sorted(self.covered):
            if sid in polys and _compatible(self.obj[oid]["activities"],
                                            polys[sid]["activities"]):
                contained[sid].append(self.obj[oid])
        dropped = set()
        for sid in polys:
            lengths = [(o["is_in_ski_area_site"],
                        geo.geometry_length_km(self.shape(o["geometry"])))
                       for o in contained[sid]
                       if o["obj_type"] in ("run", "lift")]
            total = sum(length for _, length in lengths)
            site = sum(length for in_site, length in lengths if in_site)
            if not lengths or (total > 0 and site / total > 0.5):
                dropped.add(sid)
        self.sas = [s for s in self.sas if s["id"] not in dropped]
        new = defaultdict(set)
        for sid, objs in contained.items():
            if sid not in dropped:
                for o in objs:
                    new[o["id"]].add(sid)
        self.assign(new, polygon=True)
        self.derive_activities()

    def transitive_claims(self, source: str) -> None:
        """Passes 3/5: objects in no ski area join the ski areas of
        ``source`` they chain to within 500 m over a shared activity; a
        component with several seeds goes to the smallest seed id.

        A seed searches from its own geometry plus its members
        (visitObject, :738-743): that GeometryCollection is measured with
        ``geo.dwithin`` against each candidate near one of its parts."""
        members = self.members()
        seeds = {s["id"]: s for s in self.sas
                 if s["source"] == source and not _placeholder(s["geometry"])}
        unassigned = {o["id"]: o for o in self.objs
                      if not o["ski_areas"] and o["activities"]}
        search, parts_of = {}, defaultdict(list)
        for sid, s in seeds.items():
            ms = members[sid]
            search[sid] = s["geometry"]
            if ms:
                search[sid] = _collection(sorted(
                    {s["geometry"], *(m["geometry"] for m in ms)}))
            for part in (sid, *(m["id"] for m in ms)):
                parts_of[part].append(sid)

        def linked(sid: str, v: str) -> bool:
            if not members[sid] and not members[v]:
                # plain geometries on both sides: the pair table has it
                return self.dist.get((sid, v), math.inf) <= MAX_DISTANCE_KM
            other = search[v] if v in search else unassigned[v]["geometry"]
            return geo.dwithin(self.shape(search[sid]), self.shape(other),
                               MAX_DISTANCE_KM)

        # Each seed's links, measured once: geometry does not depend on
        # the activity, and a link counts in some activity's graph exactly
        # when the two sides are activity-compatible.  Candidacy is
        # symmetric, so a seed pair is measured from its smaller id.
        links = defaultdict(set)
        for sid, s in seeds.items():
            near = set()
            for part in (sid, *(m["id"] for m in members[sid])):
                near.add(part)
                near.update(v for v, d in self.nbrs[part]
                            if d <= MAX_DISTANCE_KM)
            others = {s2 for v in near for s2 in parts_of.get(v, ())
                      if s2 > sid}
            for v in sorted(others | (near & unassigned.keys())):
                acts = (seeds[v] if v in seeds else unassigned[v])["activities"]
                if _compatible(s["activities"], acts) and linked(sid, v):
                    links[sid].add(v)

        new = defaultdict(set)
        for act in ALL_ACTIVITIES:
            act_seeds = sorted(sid for sid, s in seeds.items()
                               if act in s["activities"] or not s["activities"])
            act_objs = {oid for oid, o in unassigned.items()
                        if act in o["activities"]}
            parent = {v: v for v in (*act_seeds, *act_objs)}
            for oid in sorted(act_objs):
                for v, d in self.nbrs[oid]:
                    if d <= MAX_DISTANCE_KM and v in act_objs:
                        _union(parent, oid, v)
            for sid in act_seeds:
                for v in links[sid]:
                    if v in parent:
                        _union(parent, sid, v)
            claimer = {}
            for sid in act_seeds:
                claimer.setdefault(_find(parent, sid), sid)
            for oid in act_objs:
                root = _find(parent, oid)
                if root in claimer:
                    new[oid].add(claimer[root])
        self.assign(new)
        self.derive_activities()

    def merge_skimap(self) -> None:
        """Pass 4: Skimap.org areas within 250 m of an object of another
        source's ski area merge into it and disappear (A4 merge,
        MergeSkiAreaObjects.ts:8-100)."""
        by_id = {s["id"]: s for s in self.sas}
        merges = defaultdict(set)
        for sm in self.sas:
            if sm["source"] != "skimap.org":
                continue
            for v, d in self.nbrs[sm["id"]]:
                o = self.obj.get(v)
                if (o is None or d > MERGE_DISTANCE_KM
                        or not _compatible(sm["activities"], o["activities"])):
                    continue
                for tid in o["ski_areas"]:
                    target = by_id.get(tid)
                    if target is not None and target["source"] not in (
                            None, "skimap.org"):
                        merges[tid].add(sm["id"])
        for tid, sm_ids in merges.items():
            target = by_id[tid]
            sms = [by_id[i] for i in sm_ids]
            names = [s["name"] for s in sms if s["name"] is not None]
            if target["name"] is None and names:
                target["name"] = min(names)
            sources = {_source_key(x): x for x in target["sources"]}
            for s in sms:
                sources.update((_source_key(x), x) for x in s["sources"])
            target["sources"] = [sources[k] for k in sorted(sources)]
            target["activities"] = sorted(
                {*target["activities"], *(a for s in sms
                                          for a in s["activities"])})
            # website preference (MergeSkiAreaObjects.ts:84-100): an OSM
            # target keeps its own websites — Skimap.org URLs are usually
            # near-duplicates; union only when the target has none.
            if not target["websites"]:
                target["websites"] = sorted({w for s in sms
                                             for w in s["websites"]})
        merged = set().union(*merges.values())
        self.sas = [s for s in self.sas if s["id"] not in merged]

    def generate(self) -> None:
        """Pass 6: components of unassigned objects sharing an activity
        within 500 m become generated ski areas when a basis run seeds them
        (:903-1032); downhill drops when the cluster has no lift."""
        # an object without positions is within 500 m of nothing, itself
        # included, so it joins no component
        unassigned = {
            o["id"]: o for o in self.objs
            if not o["ski_areas"] and o["activities"]
            and next(geo.iter_positions(self.shape(o["geometry"])), None)
            is not None}
        parent = {oid: oid for oid in unassigned}
        for oid, o in unassigned.items():
            acts = set(o["activities"])
            for v, d in self.nbrs[oid]:
                if (d <= MAX_DISTANCE_KM and v in unassigned
                        and acts & set(unassigned[v]["activities"])):
                    _union(parent, oid, v)
        comps = defaultdict(list)
        for oid in sorted(unassigned):
            comps[_find(parent, oid)].append(unassigned[oid])
        new = defaultdict(set)
        for ms in comps.values():
            basis = [m for m in ms if m["is_basis_for_new_ski_area"]]
            acts = sorted({a for m in basis for a in m["activities"]})
            if not any(m["obj_type"] == "lift" for m in ms):
                acts = [a for a in acts if a != "downhill"]
            if not basis or not acts:
                continue
            sid = generated_id([m["id"] for m in ms])
            assigned = [m for m in ms if set(m["activities"]) & set(acts)]
            self.sas.append({
                "id": sid, "name": None, "sources": [], "activities": acts,
                "status": "operating", "websites": [], "wikidata_id": None,
                "run_convention": "europe",
                "geometry": _collection(sorted(m["geometry"]
                                               for m in assigned)),
                "is_polygon": False, "source": "openstreetmap"})
            for m in assigned:
                new[m["id"]].add(sid)
        self.assign(new)

    def associate_stations(self) -> None:
        """Pass 8 (LiftStationAssociator.ts:97-153): each lift station
        snaps to the nearest lift within 30 m (ties: a shared ski area,
        then lift id); its position comes from its pre-snap elevation vs
        the lift's range (:37-54, :186-214).  Orphans go (:88-94)."""
        kept = []
        for o in self.objs:
            if o["spot_type"] != "lift_station":
                kept.append(o)
                continue
            cands = []
            for lid, d in self.nbrs[o["id"]]:
                lift = self.obj.get(lid)
                if (d <= STATION_DISTANCE_KM and lift is not None
                        and lift["obj_type"] == "lift"):
                    shares = bool(set(o["ski_areas"]) & set(lift["ski_areas"]))
                    cands.append((d, not shares, lid))
            if not cands:
                continue
            lid = min(cands)[2]
            line = self.shape(self.obj[lid]["geometry"])
            point = self.shape(o["geometry"])["coordinates"]
            o["inferred_position"] = geo.infer_station_position(
                point[2] if len(point) >= 3 else None, line)
            o["geometry"] = _dumps({
                "coordinates": geo.snap_point_to_line(point, line),
                "type": "Point"})
            o["associated_lift_id"] = lid
            kept.append(o)
        self.objs = kept

    def finish(self) -> None:
        """Passes 9/10: count members and add A2 statistics (null without a
        counted run or lift); OSM ski areas without members (:1192-1197)
        and placeholder geometries (:1244-1271) go; other non-polygon areas
        move to the members' representative point (A5)."""
        members = self.members()
        stats = ski_area_statistics(
            [o for o in self.objs if o["obj_type"] == "run"],
            [o for o in self.objs if o["obj_type"] == "lift"])
        kept = []
        for s in self.sas:
            ms = members[s["id"]]
            s["n_members"] = len(ms)
            s["statistics"] = stats.get(s["id"])
            if not ms and s["source"] in (None, "openstreetmap"):
                continue
            if _placeholder(s["geometry"]):
                continue
            if not s["is_polygon"] and ms:
                s["geometry"] = _dumps({
                    "coordinates": geo.representative_point(
                        [json.loads(g) for g in sorted(m["geometry"]
                                                       for m in ms)]),
                    "type": "Point"})
            kept.append(s)
        self.sas = kept


def cluster_region(objects, ski_areas, pairs) -> tuple[list, list]:
    """Passes 1–8 and the pass 9/10 clean-up over one region's rows.

    ``objects`` are dicts with the ``OBJECT_COLUMNS`` of
    ``prepare_objects``, ``ski_areas`` dicts with ``SKI_AREA_COLUMNS``
    and ``pairs`` the region's ``(a, b, distance_km, covered)`` rows of
    ``proximity_pairs``.  Returns ``(objects, ski_areas)``: the objects
    that stay, with ``associated_lift_id`` and ``inferred_position`` added,
    and the ski areas that stay, with ``n_members`` and ``statistics``
    added.  Rows are walked in id order, so the result does not depend on
    input order."""
    region = _Region(objects, ski_areas, pairs)
    region.site_geometry()
    region.polygon_claims()
    region.transitive_claims("openstreetmap")
    region.merge_skimap()
    region.transitive_claims("skimap.org")
    region.generate()
    region.associate_stations()
    region.finish()
    return region.objs, region.sas


def _plain(v):
    """Arrow-to-pandas values back to Python lists, dicts and scalars."""
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, np.generic):
        return v.item()
    return v


def _records(rows: pd.DataFrame, columns) -> list[dict]:
    return [dict(zip(columns, map(_plain, vals)))
            for vals in rows[list(columns)].itertuples(index=False, name=None)]


def _walk_group(rows: pd.DataFrame) -> pd.DataFrame:
    """``applyInPandas`` body: one region's tagged rows → walked rows."""
    kind = rows["kind"]
    pairs = rows[kind == "pair"]
    objs, sas = cluster_region(
        _records(rows[kind == "object"], OBJECT_COLUMNS),
        _records(rows[kind == "ski_area"], SKI_AREA_COLUMNS),
        zip(pairs["id"], pairs["other"], pairs["distance_km"].map(float),
            pairs["covered"].map(bool)))
    out = ([{"kind": "object", **o} for o in objs]
           + [{"kind": "ski_area", **s} for s in sas])
    return pd.DataFrame({c: pd.Series([r.get(c) for r in out], dtype=object)
                         for c in WALK_COLUMNS})


# ---------------------------------------------------------------------------
# the clustering driver
# ---------------------------------------------------------------------------

def cluster_ski_areas(ski_areas: DataFrame, runs: DataFrame,
                      lifts: DataFrame, spots: DataFrame) -> dict[str, DataFrame]:
    """Run passes 1–10; returns the augmented layers.

    Inputs are the formatted (and for runs, normalized + site-joined)
    layers.  ``ski_areas.ski_areas``-style membership lives on the objects
    (ids of their ski areas), exactly like the reference's working table.
    """
    objs = prepare_objects(runs, lifts, spots)
    sas = ski_areas.select(
        "id", "name", "sources", "activities", "status", "websites",
        "wikidata_id", "run_convention", "geometry",
        F.get_json_object("geometry", "$.type").isin("Polygon", "MultiPolygon")
            .alias("is_polygon"),
        # null-safe first-source probe (ANSI: [0] on empty would throw)
        F.get(F.col("sources"), 0)["type"].alias("source"))

    # Step 1: the pair table.  Placeholder sites have no place yet; they
    # reach their members through membership edges.
    nodes = objs.select("id", "geometry", F.lit("object").alias("kind")) \
        .unionByName(sas.filter(~_is_placeholder(F.col("geometry"))).select(
            "id", "geometry",
            F.when(F.col("is_polygon"), "polygon").otherwise("ski_area")
            .alias("kind")))
    pairs = truncate_lineage(proximity_pairs(nodes))

    # Step 2: regions = components of pairs + site membership + self-loops.
    # Vertices are hashed to longs: a region label only has to be shared,
    # and a hash collision merely merges two regions.
    edges = (pairs.select(F.xxhash64("a").alias("src"),
                          F.xxhash64("b").alias("dst"))
             .unionByName(objs.select("id", F.explode("ski_areas").alias("sa"))
                          .select(F.xxhash64("id").alias("src"),
                                  F.xxhash64("sa").alias("dst")))
             .unionByName(objs.select(F.xxhash64("id").alias("src"),
                                      F.xxhash64("id").alias("dst")))
             .unionByName(sas.select(F.xxhash64("id").alias("src"),
                                     F.xxhash64("id").alias("dst"))))
    regions = connected_components(edges)

    # Step 3: passes 1–10 per region.
    tagged = (objs.withColumn("kind", F.lit("object"))
              .unionByName(sas.withColumn("kind", F.lit("ski_area")),
                           allowMissingColumns=True)
              .unionByName(pairs.select(
                  F.col("a").alias("id"), F.col("b").alias("other"),
                  "distance_km", "covered", F.lit("pair").alias("kind")),
                  allowMissingColumns=True))
    rows = (tagged.join(regions, F.xxhash64("id") == regions["vertex"])
            .withColumnRenamed("component", "region"))
    types = {f.name: f.dataType for f in (*objs.schema, *sas.schema)}
    types.update(kind=StringType(), associated_lift_id=StringType(),
                 inferred_position=StringType(), n_members=LongType(),
                 statistics=DataType.fromDDL(STATISTICS_DDL))
    walked = truncate_lineage(rows.groupBy("region").applyInPandas(
        _walk_group, StructType([StructField(c, types[c])
                                 for c in WALK_COLUMNS])))
    objs = (walked.filter(F.col("kind") == "object")
            .select(*OBJECT_COLUMNS, *STATION_COLUMNS))
    sas = (walked.filter(F.col("kind") == "ski_area")
           .select(*SKI_AREA_COLUMNS, "n_members", "statistics"))

    # write memberships back to the layers
    def apply_membership(layer: DataFrame) -> DataFrame:
        m = objs.select(F.col("id").alias("__oid"), F.col("ski_areas")
                        .alias("__sa"))
        return (layer.drop("ski_areas")
                .join(m, layer["id"] == F.col("__oid"), "left")
                .withColumn("ski_areas",
                            F.coalesce("__sa", F.array().cast("array<string>")))
                .drop("__oid", "__sa"))

    # Station write-back (J5/W3): spots get snapped geometry + liftId +
    # inferred position, orphans drop; lifts get the stations[] array of
    # station features (FeatureExporter.ts:95-114).
    station_assoc = objs.filter(F.col("associated_lift_id").isNotNull())
    spots_out = (apply_membership(spots).join(
        station_assoc.select(
            F.col("id").alias("station_id"),
            F.col("associated_lift_id").alias("__alift"),
            F.col("geometry").alias("__snapg"),
            F.col("inferred_position").alias("__ipos")),
        F.col("id") == F.col("station_id"), "left")
        .filter((F.col("spot_type") != "lift_station")
                | F.col("station_id").isNotNull())
        .withColumn("geometry", F.coalesce("__snapg", "geometry"))
        .withColumn("lift_id", F.coalesce("__alift", "lift_id"))
        .withColumn("position", F.coalesce("position", "__ipos"))
        .drop("station_id", "__alift", "__snapg", "__ipos"))

    station_structs = (
        spots_out.filter((F.col("spot_type") == "lift_station")
                         & F.col("lift_id").isNotNull())
        .select(F.col("lift_id").alias("__lid"),
                F.struct("id", "name", "position", "entry", "exit",
                         "geometry").alias("__st")))
    lifts_out = (apply_membership(lifts)
                 .join(station_structs.groupBy("__lid")
                       .agg(F.array_sort(F.collect_list("__st"))
                            .alias("__sts")),
                       F.col("id") == F.col("__lid"), "left")
                 .withColumn("stations",
                             F.coalesce("__sts",
                                        F.array().cast(STATION_ARRAY_DDL)))
                 .drop("__lid", "__sts"))

    return {
        "ski_areas": sas,
        "runs": apply_membership(runs),
        "lifts": lifts_out,
        "spots": spots_out,
        "objects": objs.drop("inferred_position"),
    }

"""Seeded input generator for the ski-pipeline benchmark.

Writes one workload's inputs into a directory before any timing starts,
in the formats the pipeline reads:

- ``landing``: Overpass ``input_*.osmjson`` dumps plus the Skimap.org
  ``input_skimap_ski_areas.geojson`` file (``sources.landing`` readers);
- ``bronze``: parquet tables in the ``prepare()`` input schema
  (``runs_raw``, ``lifts_raw``, ``ski_areas_raw``, ``spots_raw``,
  ``sites``, ``skimap_areas``).

Only pure Python and pyarrow run here, so generation costs no Spark job
and the same seed always gives byte-identical files.  Every resort draws
from its own ``random.Random`` stream, so sizes are fixed by the workload
and only names and coordinates change with the seed.

The generator returns the facts it knows by construction — which resort
each run, lift and station belongs to, which ski area clustering puts each
of them in — and the benchmark checks the program's outputs against them.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Resort layout, in degrees from the resort origin.  Runs sit 0.002°
# (~150 m) apart and lifts between them, so no two features overlap.  The
# landuse polygon covers every object of its resort with a 0.001° margin.
AREA_LON0, AREA_LON1, AREA_LAT0, AREA_LAT1 = 0.001, 0.015, 0.001, 0.013
RUN_LAT0, RUN_LAT1 = 0.002, 0.012
# Chained resorts sit CHAIN_STEP apart: a resort's last downhill run and
# the next resort's first are 0.005° (~385 m) apart, inside the 500 m
# clustering radius, and nordic runs of neighbouring resorts 0.015°
# (~1.15 km), outside it.
CHAIN_STEP = 0.015
DIFFICULTIES = ("easy", "intermediate", "advanced")
# Digits kept on generated coordinates (~0.1 m), so JSON and parquet
# carry every coordinate exactly.
COORD_DIGITS = 6


# Per resort: downhill runs (a nordic run is added), lifts with one
# station each.
RUNS_PER, LIFTS_PER = 6, 2
LONG_VERTICES = 8


@dataclass(frozen=True)
class Spec:
    """Input shape of one workload."""
    n_resorts: int
    long_every: int = 0         # every n-th run way has LONG_VERTICES
    # >0: resorts linked in chains of this length; only a chain's first
    # resort has a landuse polygon and only its last a Skimap point
    chain_len: int = 0
    landing: bool = False       # Overpass/Skimap landing files vs bronze


WORKLOADS = {
    # A regional re-run: few resorts, landing files, long run ways,
    # every sink.
    "region_small": Spec(n_resorts=20, long_every=2, landing=True),
    # Interconnected domains: pairs of resorts within 500 m of each
    # other, one with a landuse polygon, one with a Skimap point.
    "linked_domain": Spec(n_resorts=20, chain_len=2),
}


@dataclass
class Facts:
    """What the generator knows about its output by construction."""
    resorts: int = 0
    runs: int = 0
    lifts: int = 0
    stations: int = 0
    polygons: int = 0
    skimap_points: int = 0
    sites: int = 0
    vertices: int = 0
    elements: int = 0
    # feature name -> resort key: the output must hold exactly these names
    run_resort: dict = field(default_factory=dict)
    lift_resort: dict = field(default_factory=dict)
    station_lift: dict = field(default_factory=dict)
    # names of the run ways a ``site=piste`` relation holds
    site_runs: list = field(default_factory=list)
    # run, lift and station name -> the ski area clustering puts it in:
    # the ski area's name, or ``generated from <run>`` for a ski area
    # clustering generates around that run alone
    area_of: dict = field(default_factory=dict)
    domains: int = 0
    chain_hops: int = 0

    def expected_areas(self) -> dict:
        """ski-area key -> (name, runs, lifts) after clustering."""
        out = {}
        for feature, key in self.area_of.items():
            name = None if key.startswith("generated from ") else key
            _, runs, lifts = out.get(key, (name, 0, 0))
            out[key] = (name, runs + (feature in self.run_resort),
                        lifts + (feature in self.lift_resort))
        return out

    def sizes(self) -> dict:
        return {k: getattr(self, k) for k in (
            "resorts", "runs", "lifts", "stations", "polygons",
            "skimap_points", "sites", "vertices", "elements", "domains",
            "chain_hops")}


def _round(v: float) -> float:
    return round(v, COORD_DIGITS)


def _origin(spec: Spec, i: int, rng: random.Random) -> tuple[float, float]:
    if spec.chain_len:
        # Chains run west to east, 0.1° apart.  The jitter keeps every
        # object pair clear of the clustering radii, so the proximity
        # graph, the number of connected-components rounds and every
        # ski-area assignment are the same for every seed.
        chain, pos = divmod(i, spec.chain_len)
        return (6.0 + pos * CHAIN_STEP + rng.uniform(0, 0.0002),
                46.0 + chain * 0.1)
    return (-60.0 + (i % 50) * 0.1 + rng.uniform(0, 0.02),
            44.0 + (i // 50) * 0.1 + rng.uniform(0, 0.02))


class _Builder:
    """Accumulates one workload's features as bronze rows and OSM elements."""

    def __init__(self, spec: Spec, seed: int):
        self.spec, self.seed = spec, seed
        self.facts = Facts()
        self.bronze = {k: [] for k in ("runs_raw", "lifts_raw",
                                       "ski_areas_raw", "spots_raw")}
        self.sites, self.skimap = [], []
        self.nodes, self.ways, self.relations = [], [], []
        self._next_node = 1

    def node(self, lon: float, lat: float, tags: dict | None = None) -> int:
        nid = self._next_node
        self._next_node += 1
        el = {"type": "node", "id": nid, "lat": lat, "lon": lon}
        if tags:
            el["tags"] = tags
        self.nodes.append(el)
        return nid

    def way(self, layer: str, wid: int, coords: list, tags: dict) -> None:
        """A way, as bronze row and as OSM way with its nodes."""
        ids = [self.node(lon, lat) for lon, lat in coords]
        closed = coords[0] == coords[-1] and len(coords) > 3
        if closed:
            ids[-1] = ids[0]
            geom = {"type": "Polygon", "coordinates": [[list(c) for c in coords]]}
        else:
            geom = {"type": "LineString", "coordinates": [list(c) for c in coords]}
        self.ways.append({"type": "way", "id": wid, "nodes": ids, "tags": tags})
        self.bronze[layer].append({"osm_type": "way", "osm_id": wid,
                                   "tags": tags, "geometry": json.dumps(geom)})
        self.facts.vertices += len(coords)

    def point(self, layer: str, lon: float, lat: float, tags: dict) -> int:
        nid = self.node(lon, lat, tags)
        self.bronze[layer].append({
            "osm_type": "node", "osm_id": nid, "tags": tags,
            "geometry": json.dumps({"type": "Point", "coordinates": [lon, lat]})})
        self.facts.vertices += 1
        return nid

    def resort(self, i: int) -> None:
        spec, f = self.spec, self.facts
        rng = random.Random(self.seed * 1_000_003 + i)
        lon0, lat0 = _origin(spec, i, rng)
        key = f"r{i}"
        name = f"Resort {self.seed}-{i}"
        wid = 1_000_000 * (i + 1)

        # Clustering by construction, in a chain: the first resort's
        # polygon claims its own objects (pass 2), then every downhill
        # object of the chain, reached in 500 m hops (pass 3).  Nordic
        # runs lie 1.15 km apart, out of reach: the last resort's is
        # claimed by its Skimap point 230 m east (pass 5; it is 385 m from
        # any downhill object, beyond the 250 m merge radius of pass 4),
        # and in chains of three or more each middle resort's becomes a
        # generated ski area (pass 6).
        if spec.chain_len:
            pos = i % spec.chain_len
            chain_area = f"Resort {self.seed}-{i - pos}"
            has_polygon = pos == 0
            skimap_at = ((lon0 + 0.017, lat0 + 0.007)
                         if pos == spec.chain_len - 1 else None)
            has_site = False
        else:
            chain_area = None
            has_polygon = True
            skimap_at = (lon0 + 0.01, lat0 + 0.0155) if i % 3 == 0 else None
            has_site = i % 5 == 0
        if has_polygon:
            ring = [(lon0 + AREA_LON0, lat0 + AREA_LAT0),
                    (lon0 + AREA_LON1, lat0 + AREA_LAT0),
                    (lon0 + AREA_LON1, lat0 + AREA_LAT1),
                    (lon0 + AREA_LON0, lat0 + AREA_LAT1),
                    (lon0 + AREA_LON0, lat0 + AREA_LAT0)]
            ring = [(_round(x), _round(y)) for x, y in ring]
            self.way("ski_areas_raw", wid, ring,
                     {"landuse": "winter_sports", "name": name})
            f.polygons += 1
        if skimap_at:
            lon, lat = _round(skimap_at[0]), _round(skimap_at[1])
            self.skimap.append({
                "id": f"sm{self.seed}-{i}", "name": f"{name} (Skimap)",
                "status": "operating", "activities": ["downhill", "nordic"],
                "scalerank": 1 + i % 5,
                "official_website": (f"https://example.org/{self.seed}/{i}"
                                     if i % 6 == 0 else None),
                "geometry": json.dumps({"type": "Point",
                                        "coordinates": [lon, lat]})})
            f.skimap_points += 1

        for k in range(RUNS_PER + 1):
            nordic = k == RUNS_PER
            lon = lon0 + 0.002 + k * 0.002
            n_vertices = (LONG_VERTICES
                          if spec.long_every and k % spec.long_every == 0
                          else 2 + k % 4)
            coords = []
            for v in range(n_vertices):
                t = v / (n_vertices - 1)
                wobble = 0.0 if v in (0, n_vertices - 1) else rng.uniform(
                    -0.0001, 0.0001)
                coords.append((_round(lon + wobble),
                               _round(lat0 + RUN_LAT0
                                      + t * (RUN_LAT1 - RUN_LAT0))))
            tags = {"piste:type": "nordic" if nordic else "downhill",
                    "name": f"{name} run {k}"}
            if not nordic:
                tags["piste:difficulty"] = DIFFICULTIES[k % 3]
            if (i + k) % 4 == 0:
                tags["piste:snowmaking"] = "yes"
            run_wid = wid + 100 + k
            self.way("runs_raw", run_wid, coords, tags)
            f.runs += 1
            f.run_resort[tags["name"]] = key
            if chain_area:
                if not nordic or pos == 0:
                    f.area_of[tags["name"]] = chain_area
                elif skimap_at:
                    f.area_of[tags["name"]] = f"{name} (Skimap)"
                else:
                    f.area_of[tags["name"]] = f"generated from {tags['name']}"
            if k == 0 and has_site:
                self.sites.append({
                    "site_id": wid + 99,
                    "tags": {"type": "site", "site": "piste",
                             "name": f"{name} site"},
                    "members": [{"type": "way", "ref": run_wid, "role": ""}]})
                f.sites += 1
                f.site_runs.append(tags["name"])

        for k in range(LIFTS_PER):
            lon = _round(lon0 + 0.003 + k * 0.004)
            base = (lon, _round(lat0 + RUN_LAT0))
            top = (lon, _round(lat0 + RUN_LAT1))
            lift_name = f"{name} lift {k}"
            self.way("lifts_raw", wid + 500 + k, [base, top],
                     {"aerialway": "chair_lift" if k % 2 else "t-bar",
                      "name": lift_name})
            f.lifts += 1
            f.lift_resort[lift_name] = key
            # a station ~5 m east of the lift base: inside the 30 m
            # station radius of this lift only
            station = f"{name} station {k}"
            self.point("spots_raw", _round(base[0] + 0.00006), base[1],
                       {"aerialway": "station", "name": station})
            f.stations += 1
            f.station_lift[station] = lift_name
            if chain_area:
                f.area_of[lift_name] = f.area_of[station] = chain_area

    def finish(self) -> Facts:
        f = self.facts
        f.resorts = self.spec.n_resorts
        f.domains = -(-f.resorts // (self.spec.chain_len or 1))
        f.chain_hops = max(self.spec.chain_len - 1, 0)
        for s in self.sites:
            self.relations.append({"type": "relation", "id": s["site_id"],
                                   "members": s["members"], "tags": s["tags"]})
        f.elements = len(self.nodes) + len(self.ways) + len(self.relations)
        return f


_BRONZE = pa.schema([("osm_type", pa.string()), ("osm_id", pa.int64()),
                     ("tags", pa.map_(pa.string(), pa.string())),
                     ("geometry", pa.string())])
_SITES = pa.schema([("site_id", pa.int64()),
                    ("tags", pa.map_(pa.string(), pa.string())),
                    ("members", pa.list_(pa.struct([
                        ("type", pa.string()), ("ref", pa.int64()),
                        ("role", pa.string())])))])
_SKIMAP = pa.schema([("id", pa.string()), ("name", pa.string()),
                     ("status", pa.string()),
                     ("activities", pa.list_(pa.string())),
                     ("scalerank", pa.int32()),
                     ("official_website", pa.string()),
                     ("geometry", pa.string())])


def _write_table(rows: list, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def generate(workload: str, seed: int, out_dir: str,
             spec: Spec | None = None) -> Facts:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``; ``spec``
    replaces the workload's own shape (tests use tiny ones)."""
    spec = spec or WORKLOADS[workload]
    b = _Builder(spec, seed)
    for i in range(spec.n_resorts):
        b.resort(i)
    facts = b.finish()
    os.makedirs(out_dir, exist_ok=True)
    if spec.landing:
        # one dump per layer query, as the downloader lands them; the
        # readers deduplicate elements shared between dumps
        by_layer = {"runs": b.bronze["runs_raw"], "lifts": b.bronze["lifts_raw"],
                    "ski_areas": b.bronze["ski_areas_raw"]}
        way_ids = {layer: {r["osm_id"] for r in rows}
                   for layer, rows in by_layer.items()}
        nodes = {n["id"]: n for n in b.nodes}
        for layer, ids in way_ids.items():
            ways = [w for w in b.ways if w["id"] in ids]
            refs = {r for w in ways for r in w["nodes"]}
            els = [nodes[r] for r in sorted(refs)] + ways
            if layer == "runs":
                els += b.relations
            if layer == "lifts":
                els += [n for n in b.nodes if "tags" in n]
            with open(os.path.join(out_dir, f"input_{layer}.osmjson"), "w") as fh:
                json.dump({"version": 0.6, "elements": els}, fh)
        features = [{"type": "Feature",
                     "properties": {k: s[k] for k in (
                         "id", "name", "status", "activities", "scalerank",
                         "official_website")},
                     "geometry": json.loads(s["geometry"])} for s in b.skimap]
        with open(os.path.join(out_dir, "input_skimap_ski_areas.geojson"),
                  "w") as fh:
            json.dump({"type": "FeatureCollection", "features": features}, fh)
    else:
        for name, rows in b.bronze.items():
            _write_table(rows, _BRONZE, os.path.join(out_dir, f"{name}.parquet"))
        _write_table(b.sites, _SITES, os.path.join(out_dir, "sites.parquet"))
        _write_table(b.skimap, _SKIMAP,
                     os.path.join(out_dir, "skimap_areas.parquet"))
    return facts

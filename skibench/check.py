"""Checks one job's outputs against what the generator built.

Every check compares with a fact known by construction (``generate.Facts``),
never with a previous run of the program.  The digest is a canonical
rendering of the outputs: floats rounded to 6 decimals, JSON re-dumped with
sorted keys, CSV data lines and GeoPackage rows sorted — the
canonicalization ``tests/test_golden_outputs.py`` documents — so that two
correct jobs on one input give one digest.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sqlite3
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Report:
    errors: list = field(default_factory=list)
    features: int = 0
    digest: str = ""

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {_short(got)}, want {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 200 else s[:200] + "..."


def _canon(obj):
    if isinstance(obj, float):
        return round(obj, 6)
    if isinstance(obj, dict):
        return {k: _canon(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_canon(v) for v in obj]
    return obj


def _dumps(obj) -> str:
    return json.dumps(_canon(obj), sort_keys=True, separators=(",", ":"),
                      default=str)


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _digest(parts: list[str]) -> str:
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _file_digests(out_dir: str) -> dict[str, str]:
    """Canonical digest of every file ``write_outputs`` wrote."""
    out = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.geojson"))):
        with open(path) as fh:
            out[os.path.basename(path)] = _digest([_dumps(json.load(fh))])
    for d in sorted(glob.glob(os.path.join(out_dir, "csv", "*"))):
        lines, header = [], None
        for part in sorted(glob.glob(os.path.join(d, "part-*.csv"))):
            with open(part) as fh:
                header = fh.readline().rstrip("\n")
                lines += [ln.rstrip("\n") for ln in fh]
        out[f"csv/{os.path.basename(d)}"] = _digest([header or ""] + sorted(lines))
    gpkg = os.path.join(out_dir, "openskidata.gpkg")
    if os.path.exists(gpkg):
        con = sqlite3.connect(gpkg)
        try:
            tables = [r[0] for r in con.execute(
                "SELECT table_name FROM gpkg_contents ORDER BY table_name")]
            parts = []
            for t in tables:
                rows = sorted(_dumps([repr(v) if isinstance(v, bytes) else v
                                      for v in row])
                              for row in con.execute(f"SELECT * FROM {t}"))
                parts.append(_dumps([t, rows]))
        finally:
            con.close()
        out["openskidata.gpkg"] = _digest(parts)
    return out


def _names(rows: list[dict]) -> Counter:
    return Counter(r["name"] for r in rows)


def _check_region(layers: dict, out_dir: str, facts, rep: Report) -> None:
    rows = {k: _rows(layers[k].select("id", "name", "ski_areas"))
            if k != "ski_areas" else _rows(layers[k].select("id", "name"))
            for k in ("runs", "lifts", "spots", "ski_areas")}
    rep.expect("run count", len(rows["runs"]), facts.runs)
    rep.expect("run names", _names(rows["runs"]), Counter(set(facts.run_resort)))
    rep.expect("lift names", set(_names(rows["lifts"])), set(facts.lift_resort))
    rep.expect("lift count", len(rows["lifts"]), facts.lifts)
    rep.expect("station names", set(_names(rows["spots"])),
               set(facts.station_lift))
    rep.expect("ski areas", len(rows["ski_areas"]),
               facts.polygons + facts.sites + facts.skimap_points)
    rep.expect("runs in a site relation",
               sorted(r["name"] for r in rows["runs"] if r["ski_areas"]),
               sorted(facts.site_runs))
    files = _file_digests(out_dir)
    for name in ("runs", "lifts", "spots", "ski_areas"):
        for f in (f"{name}.geojson", f"mapboxgl_{name}.geojson"):
            if f not in files:
                rep.errors.append(f"missing output {f}")
                continue
            with open(os.path.join(out_dir, f)) as fh:
                rep.expect(f"{f} features", len(json.load(fh)["features"]),
                           len(rows[name]))
    for name in ("runs", "lifts", "spots"):
        if f"csv/{name}" not in files:
            rep.errors.append(f"missing output csv/{name}")
    if "openskidata.gpkg" not in files:
        rep.errors.append("missing output openskidata.gpkg")
    else:
        con = sqlite3.connect(os.path.join(out_dir, "openskidata.gpkg"))
        try:
            n_runs = sum(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for (t,) in con.execute(
                             "SELECT table_name FROM gpkg_contents "
                             "WHERE table_name LIKE 'runs_%'"))
        finally:
            con.close()
        rep.expect("gpkg runs", n_runs, facts.runs)
    rep.features = sum(len(v) for v in rows.values())
    rep.digest = _digest([f"{k}:{v}" for k, v in sorted(files.items())])


def _stat_count(stats: dict | None, groups: str) -> int:
    """Features counted in one ``statistics`` struct: runs by activity then
    difficulty, lifts by type."""
    if not stats:
        return 0
    return sum(v["count"] for g in stats[groups].values()
               for v in (g.values() if groups == "by_activity" else [g]))


def _check_clusters(full: dict, facts, rep: Report) -> None:
    """Ski-area assignment, per-area statistics and station snapping."""
    areas = {r["id"]: r for r in full["ski_areas"]}
    in_areas = {r["name"]: r["ski_areas"]
                for layer in ("runs", "lifts", "spots") for r in full[layer]}
    expected = facts.expected_areas()
    area_id: dict[str, str] = {}
    for feature, key in sorted(facts.area_of.items()):
        ids = in_areas.get(feature) or []
        if len(ids) != 1:
            rep.errors.append(f"{feature} is in ski areas {ids}, want one")
            continue
        if area_id.setdefault(key, ids[0]) != ids[0]:
            rep.errors.append(f"{feature} is in ski area {ids[0]}, "
                              f"not with the rest of {key!r}")
    rep.expect("ski areas", len(areas), len(expected))
    for key, (name, n_runs, n_lifts) in sorted(expected.items()):
        sa = areas.get(area_id.get(key))
        if sa is None:
            rep.errors.append(f"no ski area for {key!r}")
            continue
        rep.expect(f"name of {key!r}", sa["name"], name)
        stats = sa["statistics"] or {}
        rep.expect(f"runs in the statistics of {key!r}",
                   _stat_count(stats.get("runs"), "by_activity"), n_runs)
        rep.expect(f"lifts in the statistics of {key!r}",
                   _stat_count(stats.get("lifts"), "by_type"), n_lifts)

    lifts = {r["name"]: r for r in full["lifts"]}
    wrong = []
    for spot in full["spots"]:
        lift = lifts.get(facts.station_lift.get(spot["name"]), {})
        base = json.loads(lift["geometry"])["coordinates"][0] if lift else None
        at = json.loads(spot["geometry"])["coordinates"]
        if (spot["lift_id"] != lift.get("id") or base is None
                or abs(at[0] - base[0]) > 1e-6):
            wrong.append(spot["name"])
    rep.expect("stations not snapped onto their own lift", wrong, [])


def _check_linked(layers: dict, facts, rep: Report) -> None:
    full = {k: _rows(layers[k])
            for k in ("runs", "lifts", "spots", "ski_areas")}
    rep.expect("run count", len(full["runs"]), facts.runs)
    rep.expect("run names", _names(full["runs"]), Counter(set(facts.run_resort)))
    rep.expect("lift count", len(full["lifts"]), facts.lifts)
    rep.expect("spot count", len(full["spots"]), facts.stations)
    _check_clusters(full, facts, rep)
    rep.features = sum(len(v) for v in full.values())
    rep.digest = _digest(sorted(_dumps([k, r]) for k, v in full.items()
                                for r in v))


def check(workload: str, layers: dict, out_dir: str, facts) -> Report:
    rep = Report()
    if workload == "region_small":
        _check_region(layers, out_dir, facts, rep)
    else:
        _check_linked(layers, facts, rep)
    return rep

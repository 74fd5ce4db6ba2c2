"""Per-ski-area statistics (SURVEY.md A2) — the reference's
``skiAreaStatistics`` (src/statistics/SkiAreaStatistics.ts:37-235), the
statistics half of clustering's pass 9.

Semantics preserved:
- runs grouped by activity × difficulty (difficulty null → "other"),
  per-group {count, length_in_km, snowmaking/snowfarming length,
  combined |elevation change|, min/max elevation}; Polygon runs excluded
  (SkiAreaStatistics.ts:113-115); only downhill/nordic activities count;
- lifts grouped by lift type with the same measures (operating lifts only —
  prepareLift gives non-operating lifts no activities);
- area-level "lift-serviced" envelope: max = min(runMax, liftMax),
  min = max(runMin, liftMin) when both exist (SkiAreaStatistics.ts:71-91).

Scale: a ski area's members all lie in its clustering region, so the
region walk (``clustering._Region.finish``) rolls up the region's runs
and lifts here, in plain Python and with no Spark job of its own.  Each
measure is summed in the order the rows come, which the walk keeps in id
order, and map keys are sorted, so values and export bytes do not depend
on the partitioning.
"""

from __future__ import annotations

import json

from ..functions.geometry import elevation_stats, geometry_length_km

SKI_AREA_ACTIVITIES = ("downhill", "nordic")

_RUN_MEASURES = ("struct<count:bigint,length_in_km:double,"
                 "snowmaking_length_in_km:double,"
                 "snowfarming_length_in_km:double,"
                 "combined_elevation_change:double,"
                 "min_elevation:double,max_elevation:double>")
_LIFT_MEASURES = ("struct<count:bigint,length_in_km:double,"
                  "combined_elevation_change:double,"
                  "min_elevation:double,max_elevation:double>")
# The Spark type of a ski area's ``statistics`` column.
STATISTICS_DDL = (
    "struct<"
    f"runs:struct<by_activity:map<string,map<string,{_RUN_MEASURES}>>,"
    "min_elevation:double,max_elevation:double>,"
    f"lifts:struct<by_type:map<string,{_LIFT_MEASURES}>,"
    "min_elevation:double,max_elevation:double>,"
    "min_elevation:double,max_elevation:double>")


def _lowest(values):
    """Null-ignoring minimum, null when there is no value (Spark's min)."""
    return min((v for v in values if v is not None), default=None)


def _highest(values):
    return max((v for v in values if v is not None), default=None)


def _bounds(groups) -> dict:
    """The lowest minimum and the highest maximum of ``groups``."""
    groups = list(groups)
    return {"min_elevation": _lowest(g["min_elevation"] for g in groups),
            "max_elevation": _highest(g["max_elevation"] for g in groups)}


class _Measures:
    """One group's measures; sums accumulate in the order rows arrive."""

    def __init__(self):
        self.count = 0
        self.length = self.snowmaking = self.snowfarming = 0.0
        self.elevation_change, self.low, self.high = 0.0, None, None

    def add(self, length: float, elevation: tuple, snowmaking: bool = False,
            snowfarming: bool = False) -> None:
        change, low, high = elevation
        self.count += 1
        self.length += length
        self.snowmaking += length if snowmaking else 0.0
        self.snowfarming += length if snowfarming else 0.0
        self.elevation_change += abs(change or 0.0)
        self.low = _lowest((self.low, low))
        self.high = _highest((self.high, high))

    def as_dict(self, snow: bool) -> dict:
        out = {"count": self.count, "length_in_km": self.length}
        if snow:
            out["snowmaking_length_in_km"] = self.snowmaking
            out["snowfarming_length_in_km"] = self.snowfarming
        out["combined_elevation_change"] = self.elevation_change
        out["min_elevation"], out["max_elevation"] = self.low, self.high
        return out


def _sorted(groups: dict, snow: bool) -> dict:
    return {k: groups[k].as_dict(snow) for k in sorted(groups)}


def ski_area_statistics(runs, lifts) -> dict[str, dict]:
    """``{ski_area_id: statistics}`` — the full A2 rollup.

    ``runs`` are dicts with ski_areas, geometry, activities, difficulty,
    snowmaking and snowfarming; ``lifts`` are dicts with ski_areas,
    geometry, status and lift_type.  A ski area is a key when a counted
    run or lift names it; its value has the ``STATISTICS_DDL`` shape."""
    run_groups = {}     # ski area -> activity -> difficulty -> _Measures
    for r in runs:
        shape = json.loads(r["geometry"])
        acts = [a for a in dict.fromkeys(r["activities"] or ())
                if a in SKI_AREA_ACTIVITIES]
        if shape.get("type") in (None, "Polygon") or not acts:
            continue
        length, elevation = geometry_length_km(shape), elevation_stats(shape)
        for sid in r["ski_areas"]:
            for act in acts:
                run_groups.setdefault(sid, {}).setdefault(act, {}) \
                    .setdefault(r["difficulty"] or "other", _Measures()) \
                    .add(length, elevation, bool(r["snowmaking"]),
                         bool(r["snowfarming"]))
    lift_groups = {}    # ski area -> lift type -> _Measures
    for l in lifts:
        if l["status"] != "operating":
            continue
        shape = json.loads(l["geometry"])
        length, elevation = geometry_length_km(shape), elevation_stats(shape)
        for sid in l["ski_areas"]:
            lift_groups.setdefault(sid, {}) \
                .setdefault(l["lift_type"], _Measures()).add(length, elevation)

    out = {}
    for sid in run_groups.keys() | lift_groups.keys():
        run_stats = lift_stats = None
        if sid in run_groups:
            by_activity = {act: _sorted(by_diff, snow=True) for act, by_diff
                           in sorted(run_groups[sid].items())}
            run_stats = {"by_activity": by_activity, **_bounds(
                m for by_diff in by_activity.values()
                for m in by_diff.values())}
        if sid in lift_groups:
            by_type = _sorted(lift_groups[sid], snow=False)
            lift_stats = {"by_type": by_type, **_bounds(by_type.values())}
        # Lift-serviced envelope (SkiAreaStatistics.ts:71-91): the higher
        # of the two minima and the lower of the two maxima.
        both = [s for s in (run_stats, lift_stats) if s is not None]
        out[sid] = {"runs": run_stats, "lifts": lift_stats,
                    "min_elevation": _highest(s["min_elevation"] for s in both),
                    "max_elevation": _lowest(s["max_elevation"] for s in both)}
    return out

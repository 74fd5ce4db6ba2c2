"""Spans around the program's public functions, and Spark counts per span.

A span is opened by the benchmark around each layer call, or by a wrapper
installed over a module's public function.  Each span runs its Spark jobs
under its own job group, so the event log attributes every job, stage and
task to the innermost span that submitted it.  Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import time

from openskidata_processor_spark.operators import graph
from openskidata_processor_spark.pipeline import clustering
from openskidata_processor_spark.sinks import csv as csv_sink
from openskidata_processor_spark.sinks import geojson as geojson_sink
from openskidata_processor_spark.sinks import geopackage as gpkg_sink

LAYERS = ("sources", "formatters", "clustering", "viewport", "sinks.geojson",
          "sinks.csv", "sinks.geopackage")
SINKS = ("sinks.geojson", "sinks.csv", "sinks.geopackage")
COUNTS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb",
          "failed_tasks")
GRAPH_MAX_ITERATIONS = 50       # connected_components' default cap


class Tracer:
    """Records spans; ``span`` nests, ``install`` wraps module functions."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "run": self.run_id}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, module, attr: str, fn) -> None:
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def install(self) -> None:
        """Wrap the sink writers and connected components."""
        for module, attr, layer in (
                (geojson_sink, "write_feature_collection", "sinks.geojson"),
                (csv_sink, "write_csv", "sinks.csv"),
                (gpkg_sink, "write_geopackage", "sinks.geopackage")):
            self._wrap(module, attr, self._spanned(getattr(module, attr), layer))
        cc = graph.connected_components
        traced_cc = self._traced_cc(cc)
        # callers bound the name at import, so each binding is wrapped
        for module in (graph, clustering):
            self._wrap(module, "connected_components", traced_cc)

    def uninstall(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def _spanned(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return wrapper

    def _traced_cc(self, cc):
        @functools.wraps(cc)
        def wrapper(*args, **kwargs):
            stats = kwargs.setdefault("stats", {})
            with self.span("graph") as s:
                out = cc(*args, **kwargs)
            s["rounds"] = stats.get("iterations", 0)
            s["capped"] = int(s["rounds"] >= kwargs.get(
                "max_iterations", GRAPH_MAX_ITERATIONS))
            return out
        return wrapper


def read_event_logs(log_dir: str) -> tuple[dict, dict]:
    """Per job group: counts and the wall intervals of its jobs.

    Returns ``(counts, intervals)`` keyed by the ``spark.jobGroup.id``
    a job was submitted under."""
    stage_group, job_group = {}, {}
    counts: dict[str, dict] = {}
    intervals: dict[str, list] = {}
    job_start = {}

    def bucket(group):
        return counts.setdefault(group, dict.fromkeys(COUNTS, 0))

    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                    bucket(group)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    intervals.setdefault(group, []).append(
                        (job_start.get(ev["Job ID"]), ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    bucket(stage_group.get(info["Stage ID"]))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    b = bucket(stage_group.get(ev["Stage ID"]))
                    b["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        b["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
    return counts, intervals


def _covered(intervals: list, start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(i for i in intervals if i[0] is not None):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def layer_metrics(spans: list[dict], counts: dict, intervals: dict) -> dict:
    """The per-layer metrics of one traced run, every layer present."""
    children: dict[str, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s["id"], ()):
            yield from subtree(c)

    def self_time(s):
        dur = s["end"] - s["start"]
        return dur - sum(c["end"] - c["start"] for c in children.get(s["id"], ()))

    out = {}
    for layer in LAYERS:
        top = [s for s in spans if s["name"] == layer]
        tot = dict.fromkeys(COUNTS, 0)
        for s in top:
            for d in subtree(s):
                for k, v in counts.get(d["id"], {}).items():
                    tot[k] += v
        out[f"{layer}.wall_s"] = sum(s["end"] - s["start"] for s in top)
        out[f"{layer}.self_s"] = sum(self_time(s) for s in top)
        out.update({f"{layer}.{k}": v for k, v in tot.items()})
        if layer in SINKS:
            out[f"{layer}.driver_s"] = sum(
                (s["end"] - s["start"]) - _covered(
                    [i for d in subtree(s) for i in intervals.get(d["id"], ())],
                    s["start"], s["end"])
                for s in top)
    cc = [s for s in spans if s["name"] == "graph"]
    out["graph.calls"] = len(cc)
    out["graph.rounds"] = sum(s["rounds"] for s in cc)
    out["graph.capped"] = sum(s["capped"] for s in cc)
    out["graph.wall_s"] = sum(s["end"] - s["start"] for s in cc)
    return out

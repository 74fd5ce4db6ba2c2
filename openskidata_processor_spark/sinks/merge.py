"""K5 — output-directory merger (src/scripts/merge_outputs.ts:94-520).

Merges N per-region output directories (the reference runs one prepare per
bbox, then merges) into one:

- ``{dir}/{layer}.geojson``      — FeatureCollections: features concatenate
  (merge_outputs.ts:94-160).
- ``{dir}/csv/{layer}/``         — this engine's CSV directories
  (``part-*.csv``): one header, rows concatenate (the reference's
  csv/*.csv leg, merge_outputs.ts:389-430).
- ``{dir}/openskidata.gpkg``     — first copies, the rest SQLite-merge
  (merge_outputs.ts:444-470, via sinks.geopackage.merge_geopackages).
- ``{dir}/openskimap.mbtiles``   — first copies, the rest ``tile-join -f
  --no-tile-size-limit`` (merge_outputs.ts:477-510); requires tile-join on
  PATH, silently skipped when no input has tiles.

These are export *artifacts*, so the merge is deliberately driver-side
file plumbing exactly like the reference's script.  The 100 TB shape is
upstream: keep layers as parquet/JSONL directories and ``unionByName``
them — see sinks.geojson.write_feature_jsonl.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess

from .geopackage import merge_geopackages

GEOJSON_FILES = ("ski_areas.geojson", "lifts.geojson", "runs.geojson",
                 "spots.geojson")
CSV_LAYERS = ("runs", "lifts", "spots", "ski_areas")
GPKG_FILE = "openskidata.gpkg"
MBTILES_FILE = "openskimap.mbtiles"


def _merge_feature_collections(paths: list[str], out_path: str) -> None:
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as out:
        out.write('{"type":"FeatureCollection","features":[')
        first = True
        for p in paths:
            with open(p) as f:
                fc = json.load(f)
            for feat in fc.get("features", []):
                if not first:
                    out.write(",")
                out.write(json.dumps(feat, separators=(",", ":")))
                first = False
        out.write("]}")


def _csv_part_files(layer_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(layer_dir, "part-*.csv")) +
                  glob.glob(os.path.join(layer_dir, "part-*.csv.gz")))


def _merge_csv_dirs(dirs: list[str], out_dir: str) -> None:
    r"""One header (from the first part of the first directory), then all
    rows — the reference's skip-header append, over the CSV directories.
    Lines split on "\n" only and the bytes between pass through, so
    quoted fields holding "\r", "\u2028" or other line breaks survive."""
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, "part-00000-merged.csv")
    header = None
    with open(out_path, "w", encoding="utf-8", newline="") as out:
        for d in dirs:
            for part in _csv_part_files(d):
                with open(part, encoding="utf-8", newline="") as f:
                    lines = f.read().split("\n")
                if lines[-1] == "":
                    lines.pop()
                if not lines:
                    continue
                if header is None:
                    header = lines[0]
                    out.write(header + "\n")
                elif lines[0] != header:
                    raise ValueError(
                        f"CSV header mismatch merging {part}: "
                        f"{lines[0]!r} != {header!r}")
                for line in lines[1:]:
                    out.write(line + "\n")


def merge_outputs(input_dirs: list[str], output_dir: str) -> dict[str, int]:
    """Merge complete output directories; returns per-kind merge counts."""
    os.makedirs(output_dir, exist_ok=True)
    counts = {"geojson": 0, "csv": 0, "gpkg": 0, "mbtiles": 0}

    for name in GEOJSON_FILES:
        paths = [os.path.join(d, name) for d in input_dirs
                 if os.path.exists(os.path.join(d, name))]
        if paths:
            _merge_feature_collections(paths, os.path.join(output_dir, name))
            counts["geojson"] += 1

    for layer in CSV_LAYERS:
        dirs = [os.path.join(d, "csv", layer) for d in input_dirs
                if os.path.isdir(os.path.join(d, "csv", layer))]
        if dirs:
            _merge_csv_dirs(dirs, os.path.join(output_dir, "csv", layer))
            counts["csv"] += 1

    gpkgs = [os.path.join(d, GPKG_FILE) for d in input_dirs
             if os.path.exists(os.path.join(d, GPKG_FILE))]
    if gpkgs:
        merge_geopackages(gpkgs, os.path.join(output_dir, GPKG_FILE))
        counts["gpkg"] = 1

    tiles = [os.path.join(d, MBTILES_FILE) for d in input_dirs
             if os.path.exists(os.path.join(d, MBTILES_FILE))]
    if tiles:
        out_tiles = os.path.join(output_dir, MBTILES_FILE)
        shutil.copyfile(tiles[0], out_tiles)
        for extra in tiles[1:]:
            if shutil.which("tile-join") is None:
                raise FileNotFoundError(
                    "tile-join is required to merge multiple .mbtiles "
                    "(merge_outputs.ts:496-510)")
            tmp = out_tiles + ".tmp"
            subprocess.run(["tile-join", "-f", "--no-tile-size-limit",
                            "-o", tmp, out_tiles, extra], check=True)
            os.replace(tmp, out_tiles)
        counts["mbtiles"] = 1
    return counts


def generate_tiles(out_dir: str) -> list[str]:
    """K4: run the tippecanoe/tile-join pipeline (TilesGenerator.ts:16-96)
    over the mapboxgl GeoJSON exports in ``out_dir``.  Raises
    FileNotFoundError when tippecanoe is not installed (the reference keeps
    this an external binary too)."""
    from ..pipeline.prepare import tiles_command

    if shutil.which("tippecanoe") is None or shutil.which("tile-join") is None:
        raise FileNotFoundError(
            "tippecanoe/tile-join not on PATH — install to generate tiles")
    produced = []
    for argv in tiles_command(out_dir):
        subprocess.run(argv, check=True)
        produced.append(argv[argv.index("-o") + 1])
    return produced

"""Connected components by union-find in two passes.

Clustering cuts its objects and ski areas into regions with it (SURVEY.md
§2.9: objects within 500 m, plus site membership).

- Pass 1 runs union-find over each partition's edges and emits a star
  forest: every vertex the partition saw, linked to the smallest vertex of
  its partition-local component.  A forest has the same components as the
  edges it replaces.
- Pass 2 moves those forests to one task and runs the same union-find once
  more over their union.

Union-find keeps the smaller root of every merge, so each component is
labelled by its minimum vertex whatever the partitioning.  The rounds do
not grow with component diameter: one shuffle, and no action of its own.
The single task of pass 2 holds at most one row per (vertex, partition),
not one per edge.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def find(parent: dict, v):
    """Root of ``v``; every vertex on the way is relinked to the root."""
    root = v
    while parent[root] != root:
        root = parent[root]
    while parent[v] != root:
        parent[v], v = root, parent[v]
    return root


def union(parent: dict, a, b) -> None:
    """Merge the sets of ``a`` and ``b``; the smaller root stays root."""
    ra, rb = find(parent, a), find(parent, b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)


def _roots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Each vertex of the batches' edges, with its component's minimum."""
    parent: dict = {}
    for batch in batches:
        for a, b in zip(batch["src"].tolist(), batch["dst"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            union(parent, a, b)
    if parent:
        yield pd.DataFrame({"src": list(parent),
                            "dst": [find(parent, v) for v in parent]})


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         stats: dict | None = None) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: DataFrame with ``src``/``dst`` columns (isolated vertices may
    be passed as self-loops; edges with a null end are ignored).  Returns
    ``(vertex, component)`` where ``component`` is the minimum vertex id in
    the component, typed long for integral inputs and string otherwise.
    ``stats["iterations"]`` is set to the number of rounds: always 1.

    Replaces the reference's recursive per-seed ``visitObject`` walk
    (SkiAreaClusteringService.ts:705-779).
    """
    dtypes = dict(edges.dtypes)
    kind = ("long" if dtypes[src] in _INTEGRAL and dtypes[dst] in _INTEGRAL
            else "string")
    schema = f"src {kind}, dst {kind}"
    ids = edges.select(F.col(src).cast(kind).alias("src"),
                       F.col(dst).cast(kind).alias("dst")).dropna()
    if stats is not None:
        stats["iterations"] = 1
    return (ids.mapInPandas(_roots, schema)
            .repartition(1).mapInPandas(_roots, schema)
            .toDF("vertex", "component"))

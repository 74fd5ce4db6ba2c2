"""Iterative DataFrame graph operators: connected components via label
propagation.

Clustering cuts its objects and ski areas into regions with it (SURVEY.md
§2.9: objects within 500 m, plus site membership).  A region is one
resort, a small-diameter component, so plain min-label propagation
converges in a handful of rounds.

Scale design:
- string vertices are hashed to ``xxhash64`` longs so every shuffle moves
  8-byte keys instead of strings; the string labels are recovered with two
  joins at the end (component = min vertex string, a deterministic
  canonical label).  **Integral vertices skip all of that**: the ids are
  already shuffle-efficient longs and the numeric min IS the canonical
  label, so the numeric path runs zero extra joins (auto-detected from the
  edge dtypes);
- each iteration is one shuffle (edge join + min aggregation);
- convergence is detected with a single scalar action per iteration: the
  label sum strictly decreases iff any label changed (labels only move
  down), so no join-and-compare pass is needed.  Each iteration's labels
  are lazily persisted before that action, so the action materializes the
  round once and the next round reads the cache instead of recomputing the
  whole join chain (without this the work per round grows linearly between
  lineage cuts);
- a lineage cut every ``CHECKPOINT_INTERVAL`` iterations keeps plans bounded
  (``operators.barrier.truncate_lineage`` — ``localCheckpoint`` locally,
  reliable ``checkpoint()`` when ``SPARK_GRAFT_RELIABLE_CHECKPOINT`` is set
  or ``reliable=True``, so executor loss on a cluster is survivable); AQE
  handles skewed hub vertices.

This is the simple variant of the large-star/small-star algorithm:
rounds grow with component diameter, which one resort keeps small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .barrier import truncate_lineage

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

# rounds between lineage cuts; the rounds in between are persisted
CHECKPOINT_INTERVAL = 3


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iterations: int = 50,
                         reliable: bool | None = None,
                         stats: dict | None = None) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: DataFrame with ``src``/``dst`` columns (isolated vertices may
    be passed as self-loops).  Returns ``(vertex, component)`` where
    ``component`` is the minimum vertex id in the component — typed like
    the input ids (long for integral inputs, string otherwise).  Raises
    ``RuntimeError`` when labels still change in round ``max_iterations``:
    a path of n vertices needs n rounds, n - 1 to propagate and one to
    see no change.

    Replaces the reference's recursive per-seed ``visitObject`` walk
    (SkiAreaClusteringService.ts:705-779) with whole-frontier iteration:
    every vertex propagates in parallel each round.
    """
    dtypes = dict(edges.dtypes)
    numeric = dtypes[src] in _INTEGRAL and dtypes[dst] in _INTEGRAL

    if numeric:
        ids = edges.select(F.col(src).cast("long").alias("a"),
                           F.col(dst).cast("long").alias("b"))
        vocab = None
    else:
        # one cut feeds both ``sym`` and ``vocab``, so the caller's edge
        # plan runs once
        e = truncate_lineage(
            edges.select(F.col(src).cast("string").alias("sa"),
                         F.col(dst).cast("string").alias("sb")),
            eager=False, reliable=reliable)
        ids = e.select(F.xxhash64("sa").alias("a"), F.xxhash64("sb").alias("b"))
        vocab = (e.select(F.xxhash64("sa").alias("vid"),
                          F.col("sa").alias("vertex"))
                 .unionByName(e.select(F.xxhash64("sb").alias("vid"),
                                       F.col("sb").alias("vertex")))
                 .distinct())

    # Lazy lineage cut: the first round's convergence action materializes
    # sym inside its own job instead of a separate synchronous job here.
    sym = truncate_lineage(
        ids.unionByName(ids.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))).distinct(),
        eager=False, reliable=reliable)
    # labels derive from the (checkpoint-cached) sym — no extra job
    labels = (sym.select(F.col("a").alias("v")).distinct()
              .withColumn("c", F.col("v")))

    prev_sum, prev_cached = None, None
    for i in range(max_iterations):
        nbr = (sym.join(labels, sym["b"] == labels["v"])
               .groupBy("a").agg(F.min("c").alias("nc")))
        new_labels = (
            labels.join(nbr, labels["v"] == nbr["a"], "left")
            .select(labels["v"], F.least(labels["c"], F.col("nc")).alias("c")))
        we_persisted = False
        if (i + 1) % CHECKPOINT_INTERVAL == 0:
            new_labels = truncate_lineage(new_labels, reliable=reliable)
        else:
            # lazy cache: the convergence action below materializes this
            # round exactly once; the next round then starts from the cache
            # instead of replaying every join since the last lineage cut.
            # Lineage is retained, so eviction/executor loss recomputes.
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
            we_persisted = True
        cur_sum = new_labels.agg(
            F.sum(F.col("c").cast("decimal(38,0)"))).first()[0]
        if prev_cached is not None:
            # only frames *we* persisted — never a checkpointed frame,
            # whose truncated lineage cannot rebuild dropped blocks
            prev_cached.unpersist()
        prev_cached = new_labels if we_persisted else None
        labels = new_labels
        if stats is not None:
            stats["iterations"] = i + 1
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; its labels would split components")

    if numeric:
        return labels.select(F.col("v").alias("vertex"),
                             F.col("c").alias("component"))

    # Recover string labels; canonical component = min vertex string.
    resolved = (labels.join(vocab, labels["v"] == vocab["vid"])
                .select(F.col("vertex"), F.col("c")))
    canon = (resolved.groupBy("c").agg(F.min("vertex").alias("component")))
    return resolved.join(canon, "c").select("vertex", "component")

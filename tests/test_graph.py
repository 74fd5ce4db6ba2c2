"""Connected-components operator tests."""

from __future__ import annotations

from openskidata_processor_spark.operators.graph import connected_components


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string")
    out = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert out == {"a": "a", "b": "a", "c": "a",
                   "d": "d", "e": "d", "f": "f"}


def test_connected_components_chain_converges(spark):
    names = [f"v{i:02d}" for i in range(13)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "src string, dst string")
    out = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert set(out.values()) == {"v00"}
    assert len(out) == 13


def test_connected_components_long_path(spark):
    """A 2,000-vertex path with its edges shuffled over 8 partitions is
    one component labelled by its minimum, for long and for string ids.
    Propagating labels one hop per round would need 2,000 rounds."""
    import random

    pairs = [(i, i + 1) for i in range(1999)]
    random.Random(3).shuffle(pairs)
    for ddl, ids in (("long", pairs),
                     ("string", [(f"v{a:04d}", f"v{b:04d}") for a, b in pairs])):
        edges = spark.createDataFrame(ids, f"src {ddl}, dst {ddl}").repartition(8)
        stats = {}
        out = {r.vertex: r.component
               for r in connected_components(edges, stats=stats).collect()}
        assert len(out) == 2000, ddl
        assert set(out.values()) == {0 if ddl == "long" else "v0000"}, ddl
        assert stats == {"iterations": 1}


def test_connected_components_across_partitions(spark):
    """Each component's edges are spread over partitions that never hold
    the whole component; duplicate edges and self-loops change nothing."""
    edges = [(5, 9), (9, 5), (9, 12), (12, 12), (3, 3),      # partition 0
             (12, 20), (40, 41), (5, 9),                     # partition 1
             (41, 30), (20, 21), (41, 41), (50, 50)]         # partition 2
    df = spark.createDataFrame(spark.sparkContext.parallelize(edges, 3),
                               "src long, dst long")
    assert df.rdd.glom().map(len).collect() == [4, 4, 4]
    out = {r.vertex: r.component
           for r in connected_components(df).collect()}
    assert out == {5: 5, 9: 5, 12: 5, 20: 5, 21: 5, 3: 3,
                   30: 30, 40: 30, 41: 30, 50: 50}


def test_truncate_lineage_reliable_checkpoint_mode(spark, tmp_path):
    """Cluster-durable mode: a reliable ``checkpoint()`` barrier (survives
    executor loss, unlike localCheckpoint) keeps the rows and writes its
    data to the checkpoint directory."""
    import os

    from openskidata_processor_spark.operators.barrier import truncate_lineage

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    try:
        df = truncate_lineage(spark.range(13).selectExpr("id * 2 AS two"),
                              reliable=True)
        assert sorted(r.two for r in df.collect()) == list(range(0, 26, 2))
        # the reliable barrier must actually have written checkpoint data
        ckpt = spark.sparkContext.getCheckpointDir()
        assert ckpt is not None
    finally:
        os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)


def test_materialize_is_lazy(spark):
    """The shared-subplan barrier must not trigger a job at call time
    (round-2's eager localCheckpoint serialized materialization and caused
    2-5x bench variance)."""
    from training_catalog.operators.barrier import materialize

    status = spark.sparkContext.statusTracker()
    before = len(status.getJobIdsForGroup(None) or [])
    df = materialize(spark.range(1000).selectExpr("id", "id * 2 as two"))
    after = len(status.getJobIdsForGroup(None) or [])
    assert after == before  # no job ran at barrier-creation time
    assert df.count() == 1000
    df.unpersist()


def test_connected_components_numeric_fast_path(spark):
    """Integral vertex ids stay integral: output columns are longs and
    the component is the numeric minimum (not a string min)."""
    edges = spark.createDataFrame(
        [(2, 10), (10, 3), (7, 7)], "src long, dst long")
    out = connected_components(edges)
    types = dict(out.dtypes)
    assert types == {"vertex": "bigint", "component": "bigint"}
    got = {r.vertex: r.component for r in out.collect()}
    assert got == {2: 2, 10: 2, 3: 2, 7: 7}


def test_connected_components_numeric_matches_string_semantics(spark):
    """On the same graph, the numeric path groups vertices identically to
    the string path (components compare equal as partitions)."""
    pairs = [(1, 5), (5, 9), (20, 21), (33, 33)]
    num = connected_components(
        spark.createDataFrame(pairs, "src long, dst long"))
    s = connected_components(
        spark.createDataFrame([(f"{a:03d}", f"{b:03d}") for a, b in pairs],
                              "src string, dst string"))
    num_groups = {}
    for r in num.collect():
        num_groups.setdefault(r.component, set()).add(int(r.vertex))
    s_groups = {}
    for r in s.collect():
        s_groups.setdefault(r.component, set()).add(int(r.vertex))
    assert sorted(map(sorted, num_groups.values())) == \
        sorted(map(sorted, s_groups.values()))

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
    # a 12-hop path exercises multiple propagation rounds + checkpoints
    names = [f"v{i:02d}" for i in range(13)]
    edges = spark.createDataFrame(
        list(zip(names, names[1:])), "src string, dst string")
    out = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert set(out.values()) == {"v00"}
    assert len(out) == 13


def test_connected_components_raises_when_not_converged(spark):
    """A path of 6 vertices needs 6 rounds: 5 to carry the minimum label
    to its far end and one to see no change.  A cap of 6 converges on its
    last round; a cap of 5 must raise instead of returning split labels."""
    import pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    out = {r.vertex: r.component for r in
           connected_components(edges, max_iterations=6).collect()}
    assert out == dict.fromkeys(range(6), 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=5)


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """Cluster-durable mode: same answers with a reliable ``checkpoint()``
    barrier (survives executor loss at 100 TB, unlike localCheckpoint)."""
    import os

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    try:
        names = [f"v{i:02d}" for i in range(13)]
        edges = spark.createDataFrame(
            list(zip(names, names[1:])), "src string, dst string")
        out = {r.vertex: r.component
               for r in connected_components(edges, reliable=True).collect()}
        assert set(out.values()) == {"v00"}
        assert len(out) == 13
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
    """Integral vertex ids take the no-hash path: output columns are
    longs and the component is the numeric minimum (not a string min)."""
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

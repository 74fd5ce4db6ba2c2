"""Focused tests for the round-12 optimization helpers
(operators/barrier.py: ``materialize_now``, ``spread_input``; and the
shared shingle pass ``dedup.shingle_arrays``).

These helpers change HOW several operators execute (cache-fill timing,
scan-stage parallelism, shared tokenize→shingle pass), never WHAT they
compute — each test pins the result-identity contract plus the structural
property the optimization relies on."""
from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F

from training_catalog.operators import dedup as dd
from training_catalog.operators.barrier import materialize_now, spread_input

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")


# ---------------------------------------------------------------- spread


def test_spread_input_identity_and_parallelism(spark):
    """Single-file scans spread to defaultParallelism partitions; the row
    multiset is unchanged (document-granularity round robin)."""
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    assert len(docs.inputFiles()) < spark.sparkContext.defaultParallelism
    out = spread_input(docs)
    # the spread adds exactly one round-robin exchange over the scan
    assert "RoundRobinPartitioning" in out._jdf.queryExecution() \
        .executedPlan().toString()
    want = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want


def test_spread_input_noop_when_enough_files(spark, tmp_path):
    """At real scale the corpus arrives as many files — the helper must be
    a provable no-op (no added exchange) once files >= cores."""
    par = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "many")
    spark.range(par * 4).repartition(par).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) >= par
    assert spread_input(df) is df


def test_spread_input_noop_for_fileless_frames(spark):
    """Local-relation / post-shuffle frames report no input files; the
    helper must leave them untouched rather than guess."""
    df = spark.createDataFrame([(1,), (2,)], "x int")
    assert spread_input(df) is df


# ---------------------------------------------------------- materialize_now


def test_materialize_now_caches_and_preserves_rows(spark):
    base = spark.range(100).withColumn("y", F.col("id") * 2)
    out = materialize_now(base)
    try:
        # eager fill: the frame is persisted AND already computed
        assert out.storageLevel != StorageLevel.NONE
        assert out.storageLevel.useMemory
        ids = sorted(r["id"] for r in out.collect())
        assert ids == list(range(100))
        # lineage retained (not a checkpoint): plan still shows the Range
        assert "Range" in out._jdf.queryExecution().analyzed().toString()
    finally:
        out.unpersist()


# ------------------------------------------------------------ shingle pass


def test_shingle_arrays_matches_inverted_index(spark):
    """The shared array pass must reproduce the classic exploded inverted
    index exactly: same (id, shingle) multiset after explode, and
    size(sh_arr) == the per-doc distinct-shingle count the old
    groupBy(id).count() computed."""
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    arr = dd.shingle_arrays(docs, "doc_id", "text", n=3)
    via_arr = sorted(map(tuple, arr.select(
        "id", F.explode("sh_arr").alias("shingle")).collect()))
    classic = sorted(map(tuple, dd.shingle_table(
        docs, "doc_id", "text", n=3).collect()))
    assert via_arr == classic
    sizes = {r["id"]: r["n"] for r in arr.select(
        "id", F.size("sh_arr").alias("n")).collect()}
    classic_sizes = {r["id"]: r["n"] for r in dd.shingle_table(
        docs, "doc_id", "text", n=3).groupBy("id")
        .agg(F.count("*").alias("n")).collect()}
    assert sizes == classic_sizes

"""Tests of the benchmark itself (not of the program):

    python -m pytest skibench/test_skibench.py -q
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import check  # noqa: E402
import generate  # noqa: E402
import layers  # noqa: E402

# one chain of three resorts: the ski areas clustering builds from a
# polygon, from a Skimap point and around a lone run
TINY = dataclasses.replace(generate.WORKLOADS["linked_domain"], n_resorts=3,
                           chain_len=3)


def _files(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(generate.WORKLOADS))
def test_generator_deterministic_per_seed(workload, tmp_path):
    a = generate.generate(workload, 7, str(tmp_path / "a"))
    b = generate.generate(workload, 7, str(tmp_path / "b"))
    c = generate.generate(workload, 8, str(tmp_path / "c"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a == b
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    # only names and coordinates depend on the seed, never the sizes
    assert a.sizes() == c.sizes()


@pytest.fixture(scope="module")
def spark():
    from openskidata_processor_spark.session import get_spark
    s = get_spark("skibench-tests", cpus=2, shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    """One untraced and one traced job over a tiny linked domain."""
    import spans
    d = str(tmp_path_factory.mktemp("tiny"))
    facts = generate.generate("linked_domain", 3, os.path.join(d, "in"),
                              spec=TINY)
    plain = layers.run_job(spark, "linked_domain", os.path.join(d, "in"),
                           os.path.join(d, "out0"))
    tracer = spans.Tracer(spark.sparkContext, "test")
    tracer.install()
    try:
        traced = layers.run_job(spark, "linked_domain", os.path.join(d, "in"),
                                os.path.join(d, "out1"), tracer)
    finally:
        tracer.uninstall()
    return facts, plain, traced, tracer


def test_check_accepts_and_traced_digest_matches(tiny):
    facts, plain, traced, tracer = tiny
    a = check.check("linked_domain", plain, "", facts)
    b = check.check("linked_domain", traced, "", facts)
    assert a.errors == [] and b.errors == []
    assert a.digest == b.digest
    names = [s["name"] for s in tracer.spans]
    assert names.count("job") == 1 and names.count("clustering") == 1
    assert names.count("graph") >= 1
    assert all(s["capped"] == 0 for s in tracer.spans if s["name"] == "graph")


def _area_of(layer, name):
    return next(r["ski_areas"] for r in layer.select("name", "ski_areas")
                .collect() if r["name"] == name)


def test_check_rejects_run_moved_to_another_ski_area(tiny):
    from pyspark.sql import functions as F
    facts, plain, _, _ = tiny
    run = next(n for n, k in sorted(facts.area_of.items())
               if k == "Resort 3-0" and n in facts.run_resort)
    skimap_run = next(n for n, k in facts.area_of.items()
                      if k.endswith("(Skimap)"))
    other = _area_of(plain["runs"], skimap_run)
    assert other != _area_of(plain["runs"], run)
    runs = plain["runs"].withColumn(
        "ski_areas", F.when(F.col("name") == run, F.lit(other))
        .otherwise(F.col("ski_areas")))
    rep = check.check("linked_domain", plain | {"runs": runs}, "", facts)
    assert any(e.startswith(f"{run} is in ski area") for e in rep.errors)


def test_check_rejects_station_on_another_lift(tiny):
    from pyspark.sql import functions as F
    facts, plain, _, _ = tiny
    lifts = sorted(r["id"] for r in plain["lifts"].select("id").collect())
    spots = plain["spots"].withColumn(
        "lift_id", F.when(F.col("lift_id") == lifts[0], F.lit(lifts[1]))
        .otherwise(F.col("lift_id")))
    rep = check.check("linked_domain", plain | {"spots": spots}, "", facts)
    assert any("stations not snapped" in e for e in rep.errors)

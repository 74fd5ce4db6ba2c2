"""Bloom pre-join pruning (operators/bloom.py): the no-false-negative
guarantee, the FPR bound, exact-join equivalence, and real selectivity.
(The bloom_decontaminate catalog query also hash-matches DuckDB in
test_oracle_parity.py — the oracle is the plain exact join, because the
filter is semantically transparent.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from training_catalog.operators.bloom import (
    bloom_semi_join, build_bloom_bits, might_contain, size_bits)


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k string")


def test_bloom_no_false_negatives(spark):
    members = [f"key-{i}" for i in range(500)]
    bits = build_bloom_bits(_keys(spark, members), F.col("k"))
    hits = (_keys(spark, members)
            .filter(might_contain(F.col("k"), bits)).count())
    assert hits == len(members)          # EVERY member passes — always


def test_bloom_fpr_within_bound(spark):
    """A deliberately tight filter (1024 bits, 200 keys, k=5): measured
    FPR on 2000 disjoint probes stays within 2× the analytic bound
    (1 − e^{−kn/m})^k ≈ 9.4%."""
    n_bits, n_hashes, n_keys = 1024, 5, 200
    members = [f"m{i}" for i in range(n_keys)]
    bits = build_bloom_bits(_keys(spark, members), F.col("k"),
                            n_bits=n_bits, n_hashes=n_hashes)
    probes = 2000
    fp = (_keys(spark, [f"other{i}" for i in range(probes)])
          .filter(might_contain(F.col("k"), bits, n_hashes)).count())
    analytic = (1 - math.exp(-n_hashes * n_keys / n_bits)) ** n_hashes
    assert fp / probes <= 2 * analytic, (fp / probes, analytic)


def test_bloom_default_filter_is_selective(spark):
    """With the default 128K-bit filter, 500 members vs 20k disjoint
    probes: virtually everything non-member is pruned BEFORE any join
    (the whole point — the verify join's input is tiny)."""
    members = [f"m{i}" for i in range(500)]
    bits = build_bloom_bits(_keys(spark, members), F.col("k"))
    passed = (_keys(spark, [f"x{i}" for i in range(20_000)])
              .filter(might_contain(F.col("k"), bits)).count())
    assert passed <= 20          # fpr ≈ 1e-7 at this load; 20 = 1000×

def test_bloom_semi_join_equals_exact(spark):
    big = spark.range(0, 5000).select(
        F.concat(F.lit("k"), (F.col("id") % 700).cast("string"))
        .alias("k"), F.col("id"))
    small = _keys(spark, [f"k{i}" for i in range(0, 700, 3)])
    got = bloom_semi_join(big, small, "k")
    want = big.join(small.distinct(), "k", "left_semi")
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_decontaminate_plan_prefilters_before_join(spark):
    """The verify join must see the bloom expression as a FILTER below
    it (element_at probes in the plan), the verify join itself must be
    a BROADCAST of the fixed benchmark shingles (the training side is
    never shuffled), and the scan stays pruned to doc_id+text."""
    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES

    plan = (QUERIES["bloom_decontaminate"](spark, SF_SMOKE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "element_at" in plan          # the probe expression exists
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the TRAINING side is never shuffled: the bench side is a
    # localCheckpointed RDD (materialized once — no re-scan, no leaked
    # CacheManager entry), so the only hash exchange left in the plan
    # is the final groupBy(doc_id) agg
    exchanges = [l for l in plan.splitlines()
                 if "Exchange hashpartitioning" in l]
    doc_exchanges = [l for l in exchanges if "doc_id" in l]
    assert len(doc_exchanges) == 1, exchanges             # final agg only
    for l in exchanges:
        assert "doc_id" in l or "shingle" in l, l
    assert "ExistingRDD" in plan     # bench frame checkpointed (1 scan)
    # and the shingle exchange (if present) feeds the broadcast build,
    # not the probe side: the probe side's filter is pre-exchange
    assert plan.index("element_at") > plan.index("BroadcastHashJoin")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for unused in ("source", "lang", "n_chars"):
        assert unused not in read_schema


def test_bloom_prunes_verify_shuffle_volume(spark):
    """The 100 TB claim, pinned as DATA rather than wall-clock (local
    NVMe shuffles the toy corpora faster than host noise can resolve):
    in the mostly-non-matching two-table regime (sf0.001 docs as the
    fixed eval suite, sf0.01 docs as training — disjoint corpora), the
    bloom pre-filter must cut the verify join's shuffle INPUT to ≤ 5%
    of the rows the bloom-free exact join shuffles, while admitting
    every true match (no false negatives — the exactness contract)."""
    from conftest import SF_SMOKE, SF_T2
    from training_catalog.plans.hygiene import _bloom_shingles

    bench_sh = (_bloom_shingles(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
        .select("shingle").distinct().coalesce(4).persist())
    bits = build_bloom_bits(bench_sh, F.col("shingle"),
                            n_bits=size_bits(bench_sh.count()))
    train = _bloom_shingles(
        spark.read.parquet(f"{SF_T2}/documents.parquet"))
    n_train = train.count()
    cands = train.filter(might_contain(F.col("shingle"), bits))
    n_cand = cands.count()
    n_true = train.join(bench_sh, "shingle", "left_semi").count()
    n_cand_true = cands.join(bench_sh, "shingle", "left_semi").count()
    bench_sh.unpersist()
    assert n_cand <= 0.05 * n_train, (n_cand, n_train)   # ≥95% pruned
    assert n_cand_true == n_true, (n_cand_true, n_true)  # no false negs

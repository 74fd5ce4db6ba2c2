"""Physical-plan audits: the properties that keep the catalog fast at
100× the bench data, asserted on the plans themselves.

These are the checks a scale review does by hand with
``.explain("formatted")`` — encoded as tests so a regression (a stray
row-at-a-time UDF, a lost broadcast, a filter that stopped reaching the
scan) fails CI instead of surfacing as a 10× slowdown on a cluster.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from training_catalog.plans import QUERIES

# stream_* queries execute at call time (availableNow drain) — their plan
# is the drained memory table, not the pipeline; audited separately.
_BATCH_QUERIES = sorted(n for n in QUERIES if not n.startswith("stream_"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_row_at_a_time_python(spark, name):
    """No catalog query may plan a row-at-a-time Python UDF
    (BatchEvalPython).  Python is allowed only Arrow-batched
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""
    plan = _plan(QUERIES[name](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan, (
        f"{name} plans a row-at-a-time Python UDF")


def test_projection_reaches_scan(spark):
    """Column pruning: a query touching 2 of part's 6 columns must scan
    exactly those (ReadSchema at the parquet scan)."""
    plan = _plan(QUERIES["r1_mercator_tiles"](spark, SF_SMOKE))
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "p_partkey" in read_schema
    for unused in ("p_name", "p_brand", "p_type", "p_retailprice"):
        assert unused not in read_schema, f"scan reads unused {unused}"


def test_filter_pushdown_reaches_scan(spark):
    """A plain column predicate must appear in PushedFilters at the
    parquet scan, not only as a post-scan Filter."""
    from training_catalog.sources.tables import load_table
    df = (load_table(spark, SF_SMOKE, "part")
          .filter(F.col("p_size") >= 25).select("p_partkey", "p_size"))
    plan = _plan(df)
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "p_size" in pushed, f"p_size filter not pushed: {pushed}"


def test_dimension_joins_broadcast(spark):
    """Small-dimension joins must plan as broadcast joins, not
    shuffle/sort-merge (j1: the `sites` dim side; knn: the query side;
    bm25: the exploded query-term side onto the posting list)."""
    for name in ("j1_membership_rollup", "knn_cosine", "bm25_topk_docs"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_flagship_is_codegen(spark):
    """The flagship aggregation runs inside whole-stage codegen.  AQE
    prints codegen spans only in the FINAL plan, so execute first and
    read the same QueryExecution back."""
    df = QUERIES["a2_pricing_summary"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n) Op" is the WholeStageCodegen span marker in compact plan text
    assert "*(" in plan and "*(" + plan.split("*(")[1][0] + ") HashAggregate" \
        in plan


def test_no_cartesian_outside_oracle_twins(spark):
    """Only the two explicitly-documented exact oracle twins may plan a
    cartesian/all-pairs join; every scale-path query must not."""
    allowed = {"dedup_embedding_pairs", "knn_cosine", "ann_ivf_topk",
               "ann_lsh_topk"}  # broadcast NLJ of a tiny query side is fine
    for name in _BATCH_QUERIES:
        if name in allowed:
            continue
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, (
            f"{name} plans a cartesian product")


def test_winnow_scan_prunes_to_id_and_text(spark):
    """The winnowing posting derives from doc_id+text only; the parquet
    scan must not read the other document columns."""
    plan = _plan(QUERIES["winnow_fingerprint_pairs"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    for unused in ("source", "lang", "n_chars"):
        assert unused not in read_schema, f"scan reads unused {unused}"


def test_semantic_decontamination_broadcasts_bench(spark):
    """The benchmark slice must broadcast (BroadcastNestedLoopJoin over
    the tiny bench side); the training side must not shuffle before the
    similarity compute — the only hash exchange is the per-key
    max partial-aggregate."""
    df = QUERIES["semantic_decontamination"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_webcorpus_scan_pruning_and_shuffle_budget(spark):
    """The web-ingestion family stays Catalyst-pure: html/mojibake are
    per-row expression chains (ZERO exchanges, scan pruned to
    doc_id+text); url_canonical_stats reads doc_id only and spends at
    most its two aggregation shuffles (canonical, then domain)."""
    for name, cols, max_exchanges in (
            ("html_extract_text", {"doc_id", "text"}, 0),
            ("mojibake_stats", {"doc_id", "text"}, 0),
            ("url_canonical_stats", {"doc_id"}, 2)):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        for unused in {"source", "lang", "n_chars", "text"} - cols:
            assert unused not in read_schema, (
                f"{name} scan reads unused {unused}")
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch <= max_exchanges, (
            f"{name} plans {n_exch} shuffles (budget {max_exchanges})")


def test_profile_sketch_has_no_expand(spark):
    """The HLL profile twin must aggregate in one pass: the exact
    profile pays a 4x Expand for its countDistincts; the sketch twin
    must not — that's its entire reason to exist at 100 TB."""
    exact = _plan(QUERIES["profile_table_stats"](spark, SF_SMOKE))
    sketch = _plan(QUERIES["profile_table_sketch"](spark, SF_SMOKE))
    assert "Expand" in exact          # the multiplier the twin removes
    assert "Expand" not in sketch
    assert sketch.count("Exchange hashpartitioning") == 0


def test_blocklist_in_row_and_script_stays_per_row(spark):
    """blocklist_filter_docs computes the whole verdict IN-ROW since r13
    (filter the word array against the InSet, take sizes): zero
    exchanges, zero joins — the corpus is never moved for a
    broadcast-sized term list.  script_stats is likewise a pure per-row
    chain — zero exchanges."""
    plan = _plan(QUERIES["blocklist_filter_docs"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    plan2 = _plan(QUERIES["script_stats"](spark, SF_SMOKE))
    assert plan2.count("Exchange hashpartitioning") == 0


def test_bpe_pair_stats_runs_on_vocab_not_corpus(spark):
    """bpe_pair_stats' pair explode must sit above the word aggregate
    (vocab frame, corpus-independent): exactly two exchanges (word
    groupBy, pair groupBy) and a TakeOrdered top-K — never a global
    sort — with the scan pruned to the text column.  (Cache cleared
    first: pmi_collocations' persisted unigram frame plan-matches the
    vocab subtree and would replace the word exchange with an
    InMemoryTableScan in a shared session.)"""
    spark.catalog.clearCache()
    plan = _plan(QUERIES["bpe_pair_stats"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_unigram_seed_runs_on_vocab_not_corpus(spark):
    """unigram_seed_pieces' substring-grid explode must sit above the
    word aggregate (vocab frame): exactly two exchanges (word groupBy,
    piece groupBy) and a TakeOrdered top-K, scan pruned to text."""
    spark.catalog.clearCache()
    plan = _plan(QUERIES["unigram_seed_pieces"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_unigram_encode_segments_vocab_not_corpus(spark):
    """unigram_encode_stats: the Viterbi UDF must be Arrow-batched
    (never BatchEvalPython) and run over the vocab frame — the corpus
    pre-aggregates to (source, word, cnt) before any join."""
    plan = _plan(QUERIES["unigram_encode_stats"](spark, SF_SMOKE))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan


def test_wordpiece_learn_is_one_grouped_task(spark):
    """wordpiece_learn_vocab: corpus→vocab collapse, then exactly ONE
    grouped-pandas task running the incremental indexed-heap merge loop
    — no per-merge jobs, no row-at-a-time Python, text-pruned scan."""
    plan = _plan(QUERIES["wordpiece_learn_vocab"](spark, SF_SMOKE))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_wordpiece_encode_is_arrow_batched(spark):
    """wordpiece_encode_stats: the longest-match encoder must be
    Arrow-batched over the vocab frame, never row-at-a-time."""
    plan = _plan(QUERIES["wordpiece_encode_stats"](spark, SF_SMOKE))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan


def test_bpe_learn_deep_is_one_grouped_task(spark):
    """bpe_learn_deep: distributed corpus→vocab collapse (one word
    groupBy with map-side combine), then exactly ONE grouped-pandas
    task running the whole indexed-heap merge loop — no per-merge jobs,
    no row-at-a-time Python, scan pruned to the text column."""
    plan = _plan(QUERIES["bpe_learn_deep"](spark, SF_SMOKE))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_kn_score_broadcasts_global_and_reuses_tables(spark):
    """kn_score_docs: the 1-row (types, n1, n2) frame must broadcast
    (never a shuffled cross join), the three type-table joins must be
    broadcast hash joins (bigram-TYPE-bounded sides), the whole plan
    stays Catalyst-side (no Python eval nodes), and the corpus pair
    frame + bigram table flow through checkpoint barriers (Scan
    ExistingRDD) so the documents scan runs once, not once per
    consumer."""
    plan = _plan(QUERIES["kn_score_docs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan


def test_gopher_quality_is_one_codegen_pass(spark):
    """gopher_quality_docs: per-row integer rule arithmetic + one
    source rollup — no joins, no exchanges beyond the final group, no
    Python eval, scan pruned to (text, source)."""
    plan = _plan(QUERIES["gopher_quality_docs"](spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<text:string,source:string>" in plan, plan


def test_c4_quality_is_one_codegen_pass(spark):
    """c4_quality_docs: same contract as the Gopher audit — per-row
    line/word array work + one source rollup, no joins, no Python."""
    plan = _plan(QUERIES["c4_quality_docs"](spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<text:string,source:string>" in plan, plan


def test_fineweb_quality_is_one_codegen_pass(spark):
    """fineweb_quality_docs: the dup-line-chars rule stays per-row
    array work (sort + fold), never an explode+shuffle — same no-join,
    single-rollup contract as the C4/Gopher audits."""
    plan = _plan(QUERIES["fineweb_quality_docs"](spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Generate" not in plan, plan      # no explode
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<text:string,source:string>" in plan, plan


def test_kn3_score_broadcasts_global_and_reuses_tables(spark):
    """kn3_score_docs: the 1-row (d3, d2, t2) global frame broadcasts
    (BroadcastNestedLoopJoin), the five type-table joins are broadcast
    hash joins, the whole plan is Catalyst-side, and the trigram
    posting/type frames flow through checkpoint barriers."""
    plan = _plan(QUERIES["kn3_score_docs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan


def test_mkn_score_broadcasts_global_and_reuses_tables(spark):
    """mkn_score_docs (modified Kneser–Ney): same contract as kn3 — the
    1-row six-discount global frame broadcasts (BNLJ), the five
    type-table joins are broadcast hash joins, no Python evals, and the
    posting/type frames flow through checkpoint barriers."""
    plan = _plan(QUERIES["mkn_score_docs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan


def test_sbo_score_single_count_shuffle_and_broadcast_total(spark):
    """sbo_score_docs (Stupid Backoff): training is ONE exploded
    1/2/3-gram groupBy (the three count tables derive from a single
    shuffled aggregation behind one checkpoint barrier — counting only,
    the Brants et al. scale property), the 1-row token total broadcasts
    (BNLJ), and scoring stays Catalyst-side."""
    plan = _plan(QUERIES["sbo_score_docs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan


def test_ppl_bucket_broadcasts_cutpoints_no_global_sort(spark):
    """ppl_bucket_docs: the tercile cutpoints are a 1-row broadcast
    (BroadcastNestedLoopJoin), bucketing is a comparison — the plan
    must contain NO window over a global sort (an un-partitioned ntile
    would serialize the corpus through one task) and no Python eval."""
    plan = _plan(QUERIES["ppl_bucket_docs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_ppl_bucket_percentile_input_is_bounded(spark):
    """ppl_bucket_docs uses Spark's EXACT `percentile`, whose
    aggregation buffer is a per-distinct-value counts map — safe HERE
    only because the score column is pre-rounded to 4 decimals
    (bounded distinct values ≈ score-range × 1e4, independent of
    corpus size).  Pin that invariant in the plan: the percentile
    aggregate must consume avg_logp, and avg_logp must be produced by
    a round(..., 4) projection upstream — so a future reuse of the
    cutpoint pattern over an UN-rounded double column (unbounded
    buffer at scale) fails this audit instead of shipping."""
    import re

    from training_catalog.operators.lm_score import (
        bigram_logprob)
    from training_catalog.sources.tables import load_table

    plan = _plan(QUERIES["ppl_bucket_docs"](spark, SF_SMOKE))
    assert re.search(r"percentile\(avg_logp", plan), plan
    # the avg_logp the percentile consumes is bigram_logprob's output
    # (it crosses a lineage-truncation barrier in the full plan, and the
    # physical HashAggregate elides result expressions, so the rounding
    # projection is audited on the score subplan's OPTIMIZED plan)
    score_df = bigram_logprob(load_table(spark, SF_SMOKE, "documents"))
    score_plan = score_df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"round\(.*, 4\) AS avg_logp", score_plan), \
        "bigram_logprob's avg_logp is no longer rounded to 4 decimals"


def test_pmi_caches_unigrams_and_broadcasts_total(spark):
    """pmi_collocations consumes the unigram frame three times (c_x
    join, c_y join, 1-row total) — it must flow through a
    ContextCleaner-reclaimable localCheckpoint barrier (three Scan
    ExistingRDD nodes over ONE checkpointed RDD; a caller-invisible
    persist would leak a cached relation per invocation) so the corpus
    is scanned twice, not four times, and the 1-row total must
    broadcast."""
    df = QUERIES["pmi_collocations"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan ExistingRDD") >= 3, plan
    # all consumers must share ONE checkpointed RDD, not re-checkpoint —
    # the formatted plan names the backing RDD per scan
    import re
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "localCheckpoint" in formatted, formatted
    rdds = set(re.findall(r"MapPartitionsRDD\[\d+\]", formatted))
    assert len(rdds) == 1, rdds
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_split_holdout_is_two_agg_passes(spark):
    """split_holdout_stats: per-row split tagging plus two aggregations
    (per-split stats, per-group leak check) with the 1-row leak count
    broadcast back; the scan reads only the text column."""
    plan = _plan(QUERIES["split_holdout_stats"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_training_pipeline_reuses_tagged_corpus(spark):
    """training_corpus_stats' post-dedup tagged frame feeds both the
    word aggregation and the doc counts — it must flow through a
    ContextCleaner-reclaimable localCheckpoint barrier (Scan
    ExistingRDD; a caller-invisible persist would leak) so the hygiene
    filter + dedup shuffle run once, not twice; the scan is pruned to
    (doc_id, text)."""
    plan = _plan(QUERIES["training_corpus_stats"](spark, SF_SMOKE))
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "CartesianProduct" not in plan


def test_k_anonymity_is_one_rollup_pass(spark):
    """k_anonymity_stats computes all three generalization levels from
    ONE rollup (a single Expand), never one scan per level: exactly one
    Expand node, at most two aggregation exchanges (class sizes, then
    band rollup), scan pruned to the three QI columns."""
    plan = _plan(QUERIES["k_anonymity_stats"](spark, SF_SMOKE))
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_name" not in read_schema and "c_custkey" not in read_schema

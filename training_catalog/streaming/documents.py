"""Structured Streaming over the documents corpus: incremental exact
deduplication.

A training-data pipeline at 100 TB doesn't re-dedup the whole corpus per
batch — it streams new documents against standing state.  This is the
streaming twin of ``operators.dedup.exact_duplicates``: content digests
(``md5(text)``) dedup with streaming state (``dropDuplicates`` keeps one
row per key across ALL micro-batches), then a per-source unique count in
complete mode.  Drained with ``Trigger.AvailableNow`` so the same code
path serves backfill (batch parity, DuckDB-oracle-checkable) and
tail-following.

State note: keyed on (source, digest) — global digest state would keep
whichever source arrived first, which is nondeterministic across
partitions; the composite key makes the drained result exactly the batch
answer.  At scale the state store shards on the digest (content-derived,
uniform); a production tail-follower adds a watermark on an event-time
column to bound state, which the documents table doesn't carry.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _file_stream(spark: SparkSession, sf_dir: str, table: str,
                 max_files_per_trigger: int | None = None):
    """File-source stream over ``{sf_dir}/{table}.parquet`` with the
    static table's schema.  The file source needs a DIRECTORY basePath:
    stream the table directory when it is one (parts inside), else glob
    the single file out of ``sf_dir`` (the testdata layout).  Shared by
    every foreachBatch twin so the layout handling lives once."""
    path = f"{sf_dir}/{table}.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        return reader.parquet(path)
    reader = (spark.readStream.schema(schema)
              .option("pathGlobFilter", f"{table}.parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def _pin_source(work: str, sf_dir: str) -> None:
    """Enforce the one-source-per-``state_base`` contract: the
    Structured Streaming checkpoint inside ``state_base`` records the
    file source's path + offsets, so resuming it against a DIFFERENT
    source directory would drain from the OLD source's offsets — a
    silently stale (or failed) result.  First use writes a marker with
    the absolute source path; any later call with a different source
    fails loudly instead."""
    marker = os.path.join(work, "source.json")
    src = os.path.abspath(sf_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            pinned = json.load(f)["source"]
        if pinned != src:
            raise ValueError(
                f"state_base {work!r} is pinned to source {pinned!r}; "
                f"refusing to resume its checkpoint against {src!r} — "
                f"one source directory per state_base (use a fresh "
                f"state_base for a different corpus)")
    else:
        os.makedirs(work, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"source": src}, f)


def streaming_exact_dedup_counts(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-source unique-document counts via stateful streaming dedup.

    Output: (source, n_unique) — the final table after an availableNow
    drain equals ``SELECT source, count(DISTINCT md5(text)) GROUP BY 1``.
    """
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    deduped = (stream
               .select("source", F.md5("text").alias("digest"))
               .dropDuplicates(["source", "digest"]))
    agg = deduped.groupBy("source").agg(F.count("*").alias("n_unique"))
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def streaming_curation_stats(spark: SparkSession, sf_dir: str,
                             max_files_per_trigger: int | None = None,
                             state_base: str | None = None
                             ) -> DataFrame:
    """Incremental corpus curation — the streaming twin of
    ``pipeline/curation.py``: per-source verdict counts after an
    availableNow drain.  ONE pass over the stream: a single
    ``foreachBatch`` computes the stateless flags (benchmark split,
    BIGINT quality gate) ONCE per micro-batch on a cached batch frame,
    then derives every leg from it —

    - per-source doc/benchmark/quality/pool counts (stateless);
    - cross-batch exact dedup: the batch's in-batch-distinct
      (source, digest) pool anti-joins the standing digest-state table
      (parquet-backed — the Delta/Hudi merge shape at scale, where the
      state table is the production dedup ledger), yielding NEW uniques;
      duplicates = pool − unique;
    - decontamination joins only the NEW uniques' word-5-grams against
      the STATIC benchmark shingle set (stream-static join, the
      standing-reference-table shape).  Contamination is a pure function
      of content, so scoring each digest once — when first seen — equals
      the oracle's count over distinct digests.

    Per-batch per-source INCREMENTS (a handful of rows) land in a
    parquet ledger; the final answer is one Spark sum over it, so
    nothing unbounded ever reaches the driver.

    Replay idempotency: ``foreachBatch`` can re-invoke a batch_id after
    a failure, so BOTH writes target a ``batch=<id>`` partition
    directory in OVERWRITE mode, and the standing-state read excludes
    the current batch's own partition.  Every replay therefore
    recomputes from exactly the same inputs (the micro-batch content is
    checkpoint-pinned, other batches' partitions are immutable) and
    overwrites its own partitions with identical content — no ordering
    between the two writes can double-count or self-anti-join.

    Pass ``state_base`` to keep the digest state + increments ledger on
    shared storage across calls (the production standing-dedup-ledger
    shape — on a real cluster executors cannot reach a driver-local
    temp dir); default is a per-call temp dir, removed on return.

    Semantics note (vs the batch pipeline): dedup state keys
    (source, digest) — per-SOURCE unique semantics.  ``curate()`` dedups
    GLOBALLY on digest with a keep-first-by-doc_id window, which a
    stream cannot reproduce (first-arrival across sources is
    nondeterministic), so a cross-SOURCE duplicate is counted as unique
    in each source here but dropped in batch.  The drained result is
    exactly the batch answer under these per-source-unique semantics —
    the ``stream_curate_stats`` oracle encodes them — not ``curate()``'s
    global-digest window.  Stats are ORDER-FREE within a source, so the
    result is batch-deterministic regardless of which duplicate arrives
    first.

    Output: (source, n_docs, n_benchmark, n_quality, n_dup,
    n_contaminated, n_kept).
    """
    import os
    import shutil
    import tempfile

    from ..functions import text as T
    from ..pipeline.curation import BENCH_MOD, QUALITY_MIN_E6, SHINGLE_N

    stream = _file_stream(spark, sf_dir, "documents",
                          max_files_per_trigger)

    def flags(df):
        text = F.col("text")
        prepared = df.select(
            "doc_id", "source", "text",
            (F.col("doc_id") % BENCH_MOD == 0).alias("bench"),
            F.least(T.token_count(text).cast("long"),
                    F.lit(64).cast("long")).alias("__tok_c"),
            (F.length(text).cast("long")
             - F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
             .cast("long")).alias("__non_punct"),
            F.length(text).cast("long").alias("__len"))
        return prepared.withColumn(
            "q_ok",
            F.expr("CASE WHEN __len > 0 THEN "
                   "(__tok_c * __non_punct * 1000000L) div (64L * __len) "
                   "ELSE 0L END") >= QUALITY_MIN_E6)

    # static benchmark shingles (the standing reference table a
    # tail-follower holds): filter + two-column scan, pushed to parquet.
    # Static by REQUIREMENT, not convenience — the oracle contaminates
    # against the FULL benchmark slice, including benchmark docs that
    # would arrive in later micro-batches, so an incrementally-built
    # shingle set would miss early pool docs.  It is reused every batch,
    # so cache it once.
    bench_sh = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter(F.col("doc_id") % BENCH_MOD == 0)
                .select(F.explode(F.array_distinct(
                    T.word_shingles(T.words(F.col("text")), SHINGLE_N)))
                    .alias("shingle"))
                .distinct()
                .persist())

    work = state_base or tempfile.mkdtemp(prefix="stream_curate_")
    if state_base:
        _pin_source(work, sf_dir)   # one source per state_base
    state_dir = os.path.join(work, "digest_state")   # (source, digest)
    incr_dir = os.path.join(work, "increments")      # per-batch counts
    ckpt_dir = os.path.join(work, "checkpoint")

    def process_batch(batch_df, batch_id):
        # LAZY persists are deliberate here: base/uniq/cont race as
        # independent leaf stages and re-run the quality fold, but the
        # per-batch eager-fill remedy (materialize_now on flagged +
        # new_uniq, spread_input on the batch) measured 2.7 → 3.4 s warm
        # median (see OPTIMIZATION_r12.md "eager-fill A/B")
        flagged = flags(batch_df).persist()
        new_uniq = None
        try:
            base = flagged.groupBy("source").agg(
                F.count("*").alias("n_docs"),
                F.sum(F.when(F.col("bench"), 1).otherwise(0))
                .alias("n_benchmark"),
                F.sum(F.when(~F.col("bench") & ~F.col("q_ok"), 1)
                      .otherwise(0)).alias("n_quality"),
                F.sum(F.when(~F.col("bench") & F.col("q_ok"), 1)
                      .otherwise(0)).alias("n_pool"))

            pool = (flagged.filter(~F.col("bench") & F.col("q_ok"))
                    .select("source", F.md5("text").alias("digest"),
                            "text")
                    .dropDuplicates(["source", "digest"]))
            if os.path.exists(state_dir):
                # exclude this batch's OWN partition: a replay after a
                # crashed run must not anti-join its rows away (it would
                # overwrite the increments partition with zeros)
                seen = (batch_df.sparkSession.read.parquet(state_dir)
                        .filter(F.col("batch") != batch_id))
                new_uniq = pool.join(seen, ["source", "digest"],
                                     "left_anti")
            else:
                new_uniq = pool
            new_uniq = new_uniq.persist()

            uniq = new_uniq.groupBy("source").agg(
                F.count("*").alias("n_unique"))
            cont = (new_uniq
                    .select("source", "digest",
                            F.explode(F.array_distinct(
                                T.word_shingles(T.words(F.col("text")),
                                                SHINGLE_N)))
                            .alias("shingle"))
                    .join(bench_sh, "shingle", "left_semi")
                    .dropDuplicates(["source", "digest"])
                    .groupBy("source")
                    .agg(F.count("*").alias("n_contaminated")))

            (base.join(uniq, "source", "left")
             .join(cont, "source", "left")
             .select("source", "n_docs", "n_benchmark", "n_quality",
                     "n_pool",
                     F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
                     F.coalesce("n_contaminated", F.lit(0))
                     .alias("n_contaminated"))
             .write.mode("overwrite")
             .parquet(os.path.join(incr_dir, f"batch={batch_id}")))
            # per-batch OVERWRITE partition: replays rewrite identical
            # content instead of appending a second copy (see docstring)
            new_uniq.select("source", "digest") \
                .write.mode("overwrite") \
                .parquet(os.path.join(state_dir, f"batch={batch_id}"))
        finally:
            flagged.unpersist()
            if new_uniq is not None:
                new_uniq.unpersist()

    name = f"stream_curate_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(process_batch)
         .queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    bench_sh.unpersist()

    out_schema = ("source string, n_docs long, n_benchmark long, "
                  "n_quality long, n_dup long, n_contaminated long, "
                  "n_kept long")
    if not os.path.exists(incr_dir):         # empty source → no batches
        if state_base is None:
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame([], out_schema)
    result = (spark.read.parquet(incr_dir)
              .groupBy("source").agg(
                  F.sum("n_docs").alias("n_docs"),
                  F.sum("n_benchmark").alias("n_benchmark"),
                  F.sum("n_quality").alias("n_quality"),
                  (F.sum("n_pool") - F.sum("n_unique")).alias("n_dup"),
                  F.sum("n_contaminated").alias("n_contaminated"),
                  (F.sum("n_unique") - F.sum("n_contaminated"))
                  .alias("n_kept"))
              .select("source", "n_docs", "n_benchmark", "n_quality",
                      "n_dup", "n_contaminated", "n_kept"))
    # the ledger is tiny (per-source rows × batches): localCheckpoint
    # materializes it so the temp dirs can be reclaimed immediately
    result = result.localCheckpoint(eager=True)
    if state_base is None:
        shutil.rmtree(work, ignore_errors=True)
    return result


def streaming_winnow_pairs(spark: SparkSession, sf_dir: str,
                           max_files_per_trigger: int | None = None,
                           state_base: str | None = None
                           ) -> DataFrame:
    """Incremental near-dup detection against standing state — the
    streaming twin of ``plans/training.py::winnow_fingerprint_pairs``:
    each micro-batch winnows its NEW documents' fingerprints (one
    ``foreachBatch`` pass, doc-local selection so no cross-batch window
    state is needed), joins them against the standing fingerprint
    postings to emit (id_a, id_b, n_shared) the moment the later
    document arrives, then commits the batch's fingerprints to state.

    A pair's ``n_shared`` is FINAL at discovery (fingerprint sets are
    immutable per document), so the drained ledger equals the batch
    answer exactly, regardless of arrival order — the incremental-dedup
    shape a 100 TB ingest pipeline runs instead of re-pairing the whole
    corpus per batch.  State = (doc_id, h) parquet postings (the
    Delta-merge ledger shape at scale).

    Replay idempotency: pairs and fingerprints both land in
    ``batch=<id>`` OVERWRITE partitions, and the standing-postings read
    excludes the current batch's own partition, so a re-invoked
    batch_id recomputes from identical inputs and rewrites identical
    content — never appends a second copy or self-anti-joins.
    Re-delivered doc ids (source-level redelivery) additionally
    anti-join out against OTHER batches' postings before
    fingerprinting.

    Pass ``state_base`` to keep the fingerprint postings + pair ledger
    on shared storage across calls (executors on a real cluster cannot
    reach a driver-local temp dir); default is a per-call temp dir,
    removed on return.
    """
    import os
    import shutil
    import tempfile

    from ..plans.training import winnow_fingerprints

    stream = _file_stream(spark, sf_dir, "documents",
                          max_files_per_trigger)

    work = state_base or tempfile.mkdtemp(prefix="stream_winnow_")
    if state_base:
        _pin_source(work, sf_dir)   # one source per state_base
    fp_state = os.path.join(work, "fp_state")       # (doc_id, h)
    pair_dir = os.path.join(work, "pairs")          # discovered pairs
    ckpt_dir = os.path.join(work, "checkpoint")

    def process_batch(batch_df, batch_id):
        ss = batch_df.sparkSession
        new_docs = batch_df.select("doc_id", "text") \
            .dropDuplicates(["doc_id"])
        if os.path.exists(fp_state):
            # exclude this batch's OWN partition so a replay after a
            # crashed run doesn't anti-join its docs away (see docstring)
            standing = (ss.read.parquet(fp_state)
                        .filter(F.col("batch") != batch_id)
                        .select("doc_id", "h"))
            new_docs = new_docs.join(standing.select("doc_id").distinct(),
                                     "doc_id", "left_anti")
        else:
            standing = None
        # LAZY persist is deliberate: the nn self-join sides + the
        # standing leg race and re-run the fingerprint window pass once
        # per leg, but the per-batch `materialize_now` remedy serializes
        # a count job into every micro-batch and measured 1.8 → 4.2 s
        # warm median (see OPTIMIZATION_r12.md "eager-fill A/B")
        new_fp = winnow_fingerprints(new_docs).persist()
        try:
            nn = (new_fp.toDF("id_a", "h")
                  .join(new_fp.toDF("id_b", "h"), "h")
                  .filter(F.col("id_a") < F.col("id_b")))
            legs = [nn]
            if standing is not None:
                no = (new_fp.toDF("id_n", "h")
                      .join(standing.toDF("id_o", "h"), "h")
                      .select(F.least("id_n", "id_o").alias("id_a"),
                              F.greatest("id_n", "id_o").alias("id_b")))
                legs.append(no)
            pairs = legs[0].select("id_a", "id_b")
            for leg in legs[1:]:
                pairs = pairs.unionByName(leg.select("id_a", "id_b"))
            (pairs.groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_shared"))
             .write.mode("overwrite")
             .parquet(os.path.join(pair_dir, f"batch={batch_id}")))
            # per-batch OVERWRITE partition: replays rewrite identical
            # content instead of appending a second copy (see docstring)
            new_fp.write.mode("overwrite") \
                .parquet(os.path.join(fp_state, f"batch={batch_id}"))
        finally:
            new_fp.unpersist()

    name = f"stream_winnow_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(process_batch)
         .queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    out_schema = "id_a long, id_b long, n_shared long"
    if not os.path.exists(pair_dir):
        if state_base is None:
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame([], out_schema)
    result = (spark.read.parquet(pair_dir)
              .select("id_a", "id_b", "n_shared")
              .localCheckpoint(eager=True))
    if state_base is None:
        shutil.rmtree(work, ignore_errors=True)
    return result


def streaming_minhash_pairs(spark: SparkSession, sf_dir: str,
                            max_files_per_trigger: int | None = None,
                            state_base: str | None = None,
                            threshold: float = 0.8) -> DataFrame:
    """Incremental MinHash-LSH near-dup detection — the streaming twin
    of ``operators.dedup.minhash_dedup_pairs`` and the third member of
    the streaming-dedup family (exact digests → winnowed runs → LSH
    Jaccard).  Each micro-batch:

    1. signatures + LSH band keys for its NEW documents only
       (re-delivered doc ids anti-join out against standing bands);
    2. candidate pairs = in-batch band join ∪ new-vs-standing band join
       — a pair surfaces the moment its later document arrives;
    3. EXACT-Jaccard verification against the standing shingle postings
       — once standing state exists, BOTH verify legs are
       candidate-pruned: the intersection join and the set-size
       aggregation see only candidate ids' posting rows (one semi-join
       on the candidate id set), so per-batch state work is
       O(candidates), not O(total standing state); the first batch has
       no standing state and skips the pruning jobs (its postings are
       batch-sized already);
    4. pairs land in the ledger, bands + shingles commit to state.

    Signatures, bands, candidate generation and the verify math are the
    batch operator's own functions, and a pair's Jaccard is immutable
    once both docs exist — so the drained ledger equals the BATCH
    operator's output exactly (pinned by test), regardless of batching.
    LSH recall bounds are inherited unchanged (the batch recall harness
    covers them); like the batch path this is approximate-by-design, so
    the catalog entry is rows-only.

    State = ``batch=<id>`` OVERWRITE partitions with the standing read
    excluding the current batch (same replay-idempotency contract as
    the other two twins); ``state_base`` persists it across calls.
    """
    import os
    import shutil
    import tempfile

    from ..operators.dedup import (minhash_signatures_from_arrays,
                                   shingle_arrays)

    stream = _file_stream(spark, sf_dir, "documents",
                          max_files_per_trigger)

    work = state_base or tempfile.mkdtemp(prefix="stream_minhash_")
    if state_base:
        _pin_source(work, sf_dir)   # one source per state_base
    band_state = os.path.join(work, "band_state")    # (doc_id, band, h)
    sh_state = os.path.join(work, "shingle_state")   # (doc_id, shingle)
    pair_dir = os.path.join(work, "pairs")
    ckpt_dir = os.path.join(work, "checkpoint")

    def process_batch(batch_df, batch_id):
        ss = batch_df.sparkSession
        new_docs = batch_df.select("doc_id", "text") \
            .dropDuplicates(["doc_id"])
        if os.path.exists(band_state):
            standing_bands = (ss.read.parquet(band_state)
                              .filter(F.col("batch") != batch_id)
                              .select("doc_id", "band", "band_hash"))
            new_docs = new_docs.join(
                standing_bands.select("doc_id").distinct(),
                "doc_id", "left_anti")
        else:
            standing_bands = None
        # ONE tokenize→shingle pass per batch (shared array table):
        # signatures and the shingle postings previously each re-ran the
        # regex-heavy shingle chain over the batch.  spread_input: a
        # micro-batch from a file source is otherwise as few partitions
        # as files (ONE at bench scale) and the whole chain serializes;
        # eager fills (materialize_now): the band self-join sides and
        # the verify legs are independent leaf stages that race a lazy
        # persist and each recompute the chain.
        from ..operators.barrier import materialize_now, spread_input

        arr = materialize_now(
            shingle_arrays(spread_input(new_docs), "doc_id", "text"))
        sigs = minhash_signatures_from_arrays(arr)
        new_bands = materialize_now(_band_rows(sigs))
        new_sh = arr.select(F.col("id").alias("doc_id"),
                            F.explode("sh_arr").alias("shingle")).persist()
        cands = None
        try:
            nn = (new_bands.toDF("id_a", "band", "band_hash")
                  .join(new_bands.toDF("id_b", "band", "band_hash"),
                        ["band", "band_hash"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b"))
            cands = nn
            if standing_bands is not None:
                no = (new_bands.toDF("id_n", "band", "band_hash")
                      .join(standing_bands.toDF("id_o", "band",
                                                "band_hash"),
                            ["band", "band_hash"])
                      .select(F.least("id_n", "id_o").alias("id_a"),
                              F.greatest("id_n", "id_o").alias("id_b")))
                cands = cands.unionByName(no)
            # eager: cand_ids + the intersection join + both size joins
            # all read cands inside one action — a lazy persist races
            cands = materialize_now(cands.distinct())

            if os.path.exists(sh_state):
                # prune the standing postings to candidate docs BEFORE
                # any aggregation: a typical batch's candidate set is
                # tiny next to the standing corpus, and the semi-join
                # keeps every shingle row of a kept doc, so set_size
                # stays exact.  Only worth it WITH standing state — on
                # the first batch all_sh is already batch-sized and the
                # candidate-id distinct + semi-join would be pure extra
                # jobs (non-candidate sizes drop out of the inter join
                # anyway).
                standing_sh = (ss.read.parquet(sh_state)
                               .filter(F.col("batch") != batch_id)
                               .select("doc_id", "shingle"))
                all_sh = new_sh.unionByName(standing_sh)
                cand_ids = (cands.select(F.col("id_a").alias("doc_id"))
                            .unionByName(cands.select(F.col("id_b")
                                                      .alias("doc_id")))
                            .distinct())
                cand_sh = all_sh.join(cand_ids, "doc_id", "left_semi")
            else:
                cand_sh = new_sh
            sizes = cand_sh.groupBy("doc_id").agg(
                F.count("*").alias("set_size"))
            a = cand_sh.toDF("id_a", "shingle")
            b = cand_sh.toDF("id_b", "shingle")
            inter = (a.join(cands, "id_a")
                     .join(b, ["shingle", "id_b"])
                     .groupBy("id_a", "id_b")
                     .agg(F.count("*").alias("n_inter")))
            (inter
             .join(sizes.toDF("id_a", "size_a"), "id_a")
             .join(sizes.toDF("id_b", "size_b"), "id_b")
             .withColumn("jaccard",
                         F.col("n_inter") / (F.col("size_a")
                                             + F.col("size_b")
                                             - F.col("n_inter")))
             .filter(F.col("jaccard") >= F.lit(threshold))
             .select("id_a", "id_b", "jaccard")
             .write.mode("overwrite")
             .parquet(os.path.join(pair_dir, f"batch={batch_id}")))
            new_bands.write.mode("overwrite") \
                .parquet(os.path.join(band_state, f"batch={batch_id}"))
            new_sh.write.mode("overwrite") \
                .parquet(os.path.join(sh_state, f"batch={batch_id}"))
        finally:
            arr.unpersist()
            new_bands.unpersist()
            new_sh.unpersist()
            if cands is not None:
                cands.unpersist()

    name = f"stream_minhash_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(process_batch)
         .queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    out_schema = "id_a long, id_b long, jaccard double"
    if not os.path.exists(pair_dir):
        if state_base is None:
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame([], out_schema)
    result = (spark.read.parquet(pair_dir)
              .select("id_a", "id_b", "jaccard")
              .localCheckpoint(eager=True))
    if state_base is None:
        shutil.rmtree(work, ignore_errors=True)
    return result


def _band_rows(sig_df: DataFrame, bands: int = 16) -> DataFrame:
    """(id → doc_id, band, band_hash) rows with the SAME banding
    expression as ``operators.dedup.lsh_candidate_pairs`` — kept in one
    place so the streaming twin can never drift from the batch
    operator's bucketing."""
    banded = sig_df.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"),
                            b * (F.size("sig") / bands).cast("int") + 1,
                            (F.size("sig") / bands).cast("int")),
                    b),
            )).alias("band", "band_hash"))
    return banded.select(F.col("id").alias("doc_id"), "band", "band_hash")


def streaming_vocab_pair_stats(spark: SparkSession, sf_dir: str,
                               max_files_per_trigger: int | None = None,
                               state_base: str | None = None,
                               topk: int = 64) -> DataFrame:
    """Incremental tokenizer-statistics maintenance — the streaming twin
    of ``plans.tokenizer.bpe_pair_stats``.

    A 100 TB pipeline doesn't re-scan the corpus to refresh tokenizer
    statistics as new documents land: each micro-batch contributes its
    word counts to a standing VOCAB LEDGER, and the BPE pair statistics
    derive from the drained ledger at re-train time (a vocab-sized
    computation, corpus-independent).  Per batch the work is one
    explode + map-side-combined word groupBy over the NEW documents
    only; no standing state is read back per batch (word counts are
    purely additive).

    Replay idempotency: the per-batch counts land in an OVERWRITE
    ``batch=<id>`` partition of the ledger, so a re-delivered batch_id
    rewrites identical content instead of double-counting (same
    contract as the curation/winnow/minhash twins).  Pass ``state_base``
    to keep the ledger + checkpoint on shared storage across calls; the
    one-source-per-state_base contract is enforced by ``_pin_source``.

    Output: (pair, pair_count, n_words) — identical to the batch
    query's oracle after an availableNow drain.
    """
    import shutil
    import tempfile

    from ..functions.text import words
    from ..operators.bpe import pair_stats_over_vocab

    work = state_base or tempfile.mkdtemp(prefix="stream_vocab_")
    if state_base:
        _pin_source(work, sf_dir)   # fail the contract before any read
    stream = _file_stream(spark, sf_dir, "documents",
                          max_files_per_trigger)
    ledger_dir = os.path.join(work, "vocab_ledger")
    ckpt_dir = os.path.join(work, "checkpoint")

    def process_batch(batch_df, batch_id):
        (batch_df
         .select(F.explode(words(F.col("text"))).alias("w"))
         .groupBy("w").agg(F.count("*").alias("freq"))
         .write.mode("overwrite")
         .parquet(os.path.join(ledger_dir, f"batch={batch_id}")))

    name = f"stream_vocab_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(process_batch)
         .queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    if not os.path.exists(ledger_dir):       # empty source → no batches
        if state_base is None:
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame(
            [], "pair string, pair_count long, n_words long")
    vocab = (spark.read.parquet(ledger_dir)
             .groupBy("w").agg(F.sum("freq").alias("freq")))
    # the result is topk rows: localCheckpoint materializes it so the
    # per-call temp ledger can be reclaimed immediately
    result = pair_stats_over_vocab(vocab, topk).localCheckpoint(
        eager=True)
    if state_base is None:
        shutil.rmtree(work, ignore_errors=True)
    return result


def streaming_gopher_quality(spark: SparkSession, sf_dir: str,
                             max_files_per_trigger: int | None = None,
                             state_base: str | None = None) -> DataFrame:
    """Incremental Gopher quality audit — the streaming twin of
    ``plans.hygiene.gopher_quality_docs``, and the STATELESS-hygiene
    genre of the streaming family: per micro-batch the Table A1 flags
    are pure per-row expression work over the NEW documents only (no
    standing state is ever read back), and the per-source pass/fail
    counters are purely ADDITIVE, so each batch writes its own partial
    rollup to a replay-idempotent ledger (OVERWRITE ``batch=<id>``
    partition — a re-delivered batch_id rewrites identical content
    instead of double-counting, the same contract as the vocab/
    curation/winnow twins) and the drained ledger merges to EXACTLY
    the batch query's answer.  Shares ``gopher_quality_docs``' DuckDB
    oracle for that reason: a ledger replay or merge defect surfaces
    as a driver hash mismatch, not a weaker rows-only check.

    At 100 TB this is how the audit actually runs: quality counters
    update as crawl shards land, with per-batch cost proportional to
    the batch — never a corpus re-scan — and the ledger merge is
    sources-sized."""
    import shutil
    import tempfile

    from ..plans.hygiene import (gopher_quality_flags,
                                 gopher_quality_merge,
                                 gopher_quality_rollup)

    work = state_base or tempfile.mkdtemp(prefix="stream_gopher_")
    if state_base:
        _pin_source(work, sf_dir)
    stream = _file_stream(spark, sf_dir, "documents",
                          max_files_per_trigger)
    ledger_dir = os.path.join(work, "quality_ledger")
    ckpt_dir = os.path.join(work, "checkpoint")

    def process_batch(batch_df, batch_id):
        (gopher_quality_rollup(gopher_quality_flags(batch_df))
         .write.mode("overwrite")
         .parquet(os.path.join(ledger_dir, f"batch={batch_id}")))

    name = f"stream_gopher_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.foreachBatch(process_batch)
         .queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    if not os.path.exists(ledger_dir):       # empty source → no batches
        if state_base is None:
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame(
            [], "source string, n_docs long, n_pass long, "
                "fail_word_count long, fail_mean_len long, "
                "fail_symbol long, fail_bullet long, "
                "fail_ellipsis long, fail_alpha long, fail_stop long")
    result = gopher_quality_merge(
        spark.read.parquet(ledger_dir)).localCheckpoint(eager=True)
    if state_base is None:
        shutil.rmtree(work, ignore_errors=True)
    return result

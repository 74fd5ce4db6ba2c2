"""Deduplication operators for large-scale document corpora.

Four families, all expressed as DataFrame plans that scale by shuffle on
content-derived keys (no driver-side state, no collect):

- **exact**      : hash-groupBy on md5(text) — one shuffle on the digest.
- **n-gram Jaccard** : exact set similarity via shingle inverted index
  (explode → equi-join on shingle → group pair → |∩|/|∪|).
- **MinHash + LSH**  : 64-perm signatures as Catalyst higher-order-function
  expressions (xxhash64 base hash + affine permutations mod a Mersenne
  prime), banded into LSH buckets; candidate pairs verified with exact
  Jaccard.  The permutation constants stay < 2^30 so products fit in int64
  under ANSI mode.
- **SimHash**    : 64-bit sign-of-weighted-sum signature, 4×16-bit band
  blocking, verified by Hamming distance (bit_count(xor)).

At 100 TB: every stage is explode/groupBy/join on high-cardinality keys;
banding bounds the candidate pair count, and the final verify join touches
only candidates.  Common-shingle hot keys can be frequency-capped upstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles, words
from .barrier import materialize, materialize_now, spread_input

MERSENNE_PRIME = (1 << 61) - 1


def _perm_constants(num_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic affine permutation constants in [1, 2^30)."""
    a, b, state = [], [], seed
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a.append((state >> 8) % ((1 << 30) - 1) + 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b.append((state >> 8) % ((1 << 30) - 1))
    return a, b




# moved to barrier.spread_input (plan modules import it from there); the
# alias keeps this module's call sites and external references stable
_spread = spread_input


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical documents: (digest, n_docs, doc_ids, keep_id).

    ``keep_id`` (min id) is the canonical representative, matching the usual
    keep-first dedup policy.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
             F.min(id_col).alias("keep_id"))
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                   n: int = 3) -> DataFrame:
    """(id, sh_arr) — each document's distinct word-n-gram shingles as ONE
    array row.  The tokenize→shingle→distinct chain (the regex-heavy part
    of every shingle-based family) runs exactly once here; the exploded
    inverted index, the set sizes and the MinHash signatures are all cheap
    derivations of this table (see ``ngram_jaccard_pairs`` /
    ``minhash_dedup_pairs``)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            word_shingles(words(F.col(text_col)), n)).alias("sh_arr"))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per document."""
    return (
        df.select(F.col(id_col).alias("id"),
                  F.explode(F.array_distinct(
                      word_shingles(words(F.col(text_col)), n))).alias("shingle"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_doc_freq: int | None = None,
                        prefix_filter: bool = False) -> DataFrame:
    """Exact n-gram-set Jaccard similarity join: (id_a, id_b, jaccard).

    ``max_doc_freq`` optionally drops shingles appearing in more than that
    many documents (stop-shingle pruning — the standard guard against
    quadratic blowup on ubiquitous shingles at corpus scale; candidates can
    only be missed if ALL their shared shingles are ubiquitous).

    ``prefix_filter=True`` switches candidate generation to PPJoin-style
    prefix filtering (same exact result, published algorithm): order every
    document's shingles by ascending global document-frequency and index
    only the first ``|set| - ceil(t·|set|) + 1`` of them.  Any pair with
    J ≥ t shares ≥ ``ceil(t·|set|)`` shingles, so it must collide inside
    these prefixes; pairs of frequent-only shingles never meet.  The
    inverted-index self-join — the quadratic stage — shrinks from all
    postings to rare-prefix postings, and a length filter
    (``t·max(|a|,|b|) ≤ min(|a|,|b|)``) prunes candidates before the
    exact verify join recomputes |∩| over FULL sets.  Crossover: at bench
    scale (small inverted index) the plain join's single self-join wins;
    prefix filtering pays off once hot shingles make postings buckets
    quadratic — switch it on for web-scale corpora.
    """
    # One materialized pass builds each document's shingle ARRAY; the
    # exploded inverted index (both join sides) and the set sizes are
    # projections of it.  Replaces the previous materialized exploded
    # table + a groupBy(id) count: the size aggregation's corpus-wide
    # Exchange is gone (set_size = array length, computed map-side).
    # Eager fill: the join sides are independent AQE leaf stages that
    # would otherwise race and each recompute the shingle chain.
    arr = materialize_now(shingle_arrays(_spread(df), id_col, text_col, n))
    sizes = arr.select("id", F.size("sh_arr").alias("set_size"))
    sh = arr.select("id", F.explode("sh_arr").alias("shingle"))
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (sh.join(freq.filter(F.col("df") <= max_doc_freq), "shingle")
                .drop("df"))

    if prefix_filter:
        cands = _prefix_filter_candidates(sh, sizes, threshold)
        a = sh.toDF("id_a", "shingle")
        b = sh.toDF("id_b", "shingle")
        inter = (
            a.join(cands, "id_a").join(b, ["shingle", "id_b"])
            .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
        )
    else:
        a = sh.toDF("id_a", "shingle")
        b = sh.toDF("id_b", "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.toDF("id_a", "size_a")
    sb = sizes.toDF("id_b", "size_b")
    return (
        # No broadcast hints: sa/sb are one-row-per-document (corpus-sized at
        # scale) — AQE picks broadcast when they're actually small.
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    F.col("n_inter")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_filter_candidates(sh: DataFrame, sizes: DataFrame,
                              threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs via prefix filtering.

    Prefix length is ``|set| - ceil(t·|set|) + 1``: a pair with J ≥ t
    shares ≥ ceil(t·|set|) shingles, so by pigeonhole at least one shared
    shingle lands in that prefix.  (``|set| - floor(t·|set|)`` — the
    earlier formula — is one element SHORT exactly when t·|set| is an
    integer, silently dropping boundary pairs at J = t.)  The ceil is
    taken on ``t·|set| − 1e−9`` so float noise can only lengthen the
    prefix (extra candidates, still exact), never shorten it.  Ordering
    key is (df, shingle) — ascending document frequency with a
    total-order tiebreak, the standard rare-first order that minimizes
    postings."""
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    prefix = (
        sh.join(freq, "shingle")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle")))
             .alias("__ordered"))
        .join(sizes, "id")
        .select(
            "id", "set_size",
            F.explode(F.slice(
                F.col("__ordered"), 1,
                (F.col("set_size")
                 - F.ceil(F.lit(threshold) * F.col("set_size")
                          - F.lit(1e-9))
                 + F.lit(1)).cast("int"))).alias("__p"))
        .select("id", "set_size", F.col("__p.shingle").alias("shingle"))
    )
    a = prefix.toDF("id_a", "size_a", "shingle")
    b = prefix.toDF("id_b", "size_b", "shingle")
    return (
        a.join(b, "shingle")
        .filter((F.col("id_a") < F.col("id_b"))
                # length filter: t·max ≤ min ⇔ J ≥ t is still possible
                & (F.least("size_a", "size_b")
                   >= F.lit(threshold) * F.greatest("size_a", "size_b")))
        .select("id_a", "id_b").distinct()
    )


def _minhash_sig_udf(num_perm: int):
    """Arrow-batched MinHash signature UDF over a feature-hash array column.

    The 64 affine permutations + min-reduce run as one numpy broadcast
    ((num_perm × n_shingles) per doc).  A pure-Catalyst nested-lambda
    variant exists but re-evaluates the literal permutation arrays per
    element (~100× slower), so the vectorized UDF is the hot path by
    design.  Documents with no shingles get an all-p sentinel signature.
    """
    from pyspark.sql.types import ArrayType, LongType

    av, bv = _perm_constants(num_perm)
    a_np = np.array(av, dtype=np.int64)[:, None]
    b_np = np.array(bv, dtype=np.int64)[:, None]
    sentinel = [MERSENNE_PRIME] * num_perm

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            if h is None or len(h) == 0:
                out.append(sentinel)
                continue
            hv = np.asarray(h, dtype=np.int64)[None, :]
            # a < 2^30, h < 2^32 ⇒ a·h + b < 2^63: exact in int64.
            perms = (a_np * hv + b_np) % MERSENNE_PRIME
            out.append(perms.min(axis=1).tolist())
        return pd.Series(out)

    return sig_udf


def minhash_signatures_from_arrays(arr: DataFrame,
                                   num_perm: int = 64) -> DataFrame:
    """(id, sig) MinHash signatures from a ``shingle_arrays`` table —
    base shingle hashes JVM-side (xxhash64 → [0, 2^32)), permutations in
    the vectorized UDF.  Lets a caller that also needs the inverted index
    share one tokenize→shingle pass (see ``minhash_dedup_pairs``)."""
    base = F.transform(F.col("sh_arr"),
                       lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 32)))
    return arr.select("id", _minhash_sig_udf(num_perm)(base).alias("sig"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_perm: int = 64) -> DataFrame:
    """(id, sig array<bigint>[num_perm]) MinHash signatures from raw text
    (single-consumer convenience wrapper over the _from_arrays path)."""
    return minhash_signatures_from_arrays(
        shingle_arrays(df, id_col, text_col, n), num_perm)


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 16) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate (id_a, id_b).

    rows_per_band = len(sig)/bands.  Pair generation is a self-join on
    (band, band_hash) — at scale the bucket sizes are the cost driver, and
    banding keeps them tiny for non-duplicate content.
    """
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
            )).alias("band", "band_hash"),
    )
    a = banded.toDF("id_a", "band", "band_hash")
    b = banded.toDF("id_b", "band", "band_hash")
    return (a.join(b, ["band", "band_hash"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.8) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    The scale path for Jaccard dedup: LSH prunes the quadratic pair space,
    the exact verify join only touches candidates.
    """
    # ONE tokenize→shingle→distinct pass over the corpus (materialized
    # array table) feeds the signature UDF, the exploded inverted index
    # AND the set sizes — previously the regex-heavy shingle chain ran
    # twice (signatures + verify index) and sizes paid a corpus-wide
    # groupBy(id) Exchange; set_size is now a map-side array length.
    # Eager fill: the signature leg and the two index sides are
    # independent AQE leaf stages that would otherwise race and each
    # recompute the shingle chain (see barrier.materialize_now).
    arr = materialize_now(shingle_arrays(_spread(df), id_col, text_col, n))
    # NO barrier on the signature table (tried r13, reverted): the sig
    # UDF does feed both banding self-join sides (2 ArrowEvalPython in
    # the plan), but persisting it read WORSE in the isolated A/B —
    # dedup_minhash_lsh warm 2.2 → 2.9 s, stream_minhash_pairs 3.7 →
    # 5-10 s (5 repeats each): storing the 64-long signature arrays
    # costs more than recomputing the vectorized UDF from the cached
    # shingle table, and the racing duplicate back-fills idle cores.
    sigs = minhash_signatures_from_arrays(arr, num_perm)
    cands = lsh_candidate_pairs(sigs, bands)
    sizes = arr.select("id", F.size("sh_arr").alias("set_size"))
    sh = arr.select("id", F.explode("sh_arr").alias("shingle"))
    a = sh.toDF("id_a", "shingle")
    b = sh.toDF("id_b", "shingle")
    inter = (
        a.join(cands, "id_a").join(b, ["shingle", "id_b"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter"))
    )
    return (
        # Candidate and size tables scale with the corpus — no forced
        # broadcast; shuffle-join on id and let AQE downgrade when small.
        inter
        .join(sizes.toDF("id_a", "size_a"), "id_a")
        .join(sizes.toDF("id_b", "size_b"), "id_b")
        .withColumn("jaccard",
                    F.col("n_inter")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_groups(df: DataFrame, id_col: str, pairs: DataFrame,
                    quality_col: str | None = None) -> DataFrame:
    """Resolve near-duplicate PAIRS into dedup GROUPS — the step that
    turns any pair-producing family (ngram/minhash/simhash/embedding)
    into the actual pipeline output: which documents to keep.

    Connected components over the pair graph (near-duplication is not
    transitive, but dedup treats it as such — the standard corpus-dedup
    policy: A≈B and B≈C ⇒ {A,B,C} are one group); ``group_id`` is the
    minimum doc id in the component.  ``keep`` marks the canonical
    representative: by default the min-id document (keep-first policy,
    matching ``exact_duplicates``); with ``quality_col``, the
    highest-quality member instead (ties → smallest id) — the
    keep-best policy a training pipeline uses when a quality score
    exists.  Documents in no pair are their own group with ``keep=true``.

    Ids must be integers — the CC operator keeps integral ids as 8-byte
    longs end to end (no string padding).
    The keep-best pass adds one map-side-combining aggregate over the
    group table (group-count-sized) and one join back — both bounded by
    the corpus, no quadratic stage.
    """
    from openskidata_processor_spark.operators.graph import connected_components

    edges = pairs.select(F.col("id_a").cast("long").alias("src"),
                         F.col("id_b").cast("long").alias("dst"))
    comp = connected_components(edges)
    cols = [F.col(id_col).cast("long").alias("doc_id")]
    if quality_col is not None:
        cols.append(F.col(quality_col).alias("__q"))
    base = df.select(*cols)
    out = base.join(comp, base["doc_id"] == comp["vertex"], "left")
    group = F.coalesce(F.col("component"), F.col("doc_id"))
    if quality_col is None:
        return out.select("doc_id", group.alias("group_id"),
                          (group == F.col("doc_id")).alias("keep"))
    resolved = out.select("doc_id", group.alias("group_id"), "__q")
    # max_by over (quality, -id): highest quality wins, ties to min id
    best = (resolved.groupBy("group_id")
            .agg(F.max_by("doc_id", F.struct(F.col("__q"), -F.col("doc_id")))
                 .alias("__keep_id")))
    return (resolved.join(best, "group_id")
            .select("doc_id", "group_id",
                    (F.col("doc_id") == F.col("__keep_id")).alias("keep")))


def simhash_from_hashes(hashes: Column, num_bits: int = 64) -> Column:
    """Pack a SimHash from a (bound) column of feature hashes.

    bit_j = sign( Σ_features (bit_j(hash) ? +1 : -1) ); packed into one
    signed long via OR of literal powers (bitwise — no ANSI overflow).
    Pass a *materialized column reference*, not an inline expression: the 64
    per-bit aggregates each re-reference it.
    """
    # Shift amounts must be literals, so the bit loop is a Python loop that
    # builds one (wide) expression; bit 63 is the sign bit → power -2^63.
    # NB: closures, not default args — PySpark introspects lambda arity, so a
    # `j=j` default would be mistaken for a third lambda parameter.
    def bit_contrib(j: int):
        return lambda acc, h: acc + (F.shiftrightunsigned(h, j)
                                     .bitwiseAND(F.lit(1)) * 2 - 1).cast("int")

    packed = F.lit(0).cast("long")
    for j in range(num_bits):
        bit_sum = F.aggregate(hashes, F.lit(0), bit_contrib(j))
        power = F.lit(1 << j) if j < num_bits - 1 else F.lit(-(1 << j))
        packed = packed.bitwiseOR(
            F.when(bit_sum > 0, power).otherwise(F.lit(0).cast("long")))
    return packed


def simhash_signature_udf():
    """64-bit SimHash packer as ONE Arrow-batched numpy UDF.

    The pure-Catalyst variant (``simhash_from_hashes``) expands to 64
    separate array folds per row — a megabyte-scale codegen unit that
    dominates wall-clock at any size.  The numpy path unpacks all feature
    hashes to a (n_features × 64) bit matrix and packs the sign vector in
    two vectorized ops; same signature bits, ~10× faster end-to-end.
    """
    from pyspark.sql.types import LongType

    powers = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))

    @F.pandas_udf(LongType())
    def _udf(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        for i, h in enumerate(hashes):
            if h is None or len(h) == 0:
                continue
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            sums = bits.sum(axis=0) * 2 - len(hv)
            out[i] = np.bitwise_or.reduce(powers[sums > 0]) if (sums > 0).any() else 0
        return pd.Series(out.view(np.int64))
    return _udf


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, n: int = 3) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Features are word ``n``-gram shingles (single words are far too weak on
    small vocabularies).  Pigeonhole blocking: with 4 blocks of 16 bits, any
    pair at distance ≤ 3 agrees exactly on ≥ 1 block, so candidates are an
    equi-join per block.
    """
    feats = _spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(F.array_distinct(word_shingles(words(F.col(text_col)), n)),
                    lambda s: F.xxhash64(s)).alias("__hashes"))
    # LAZY persist is deliberate: the two block self-join sides race and
    # each run the shingle+signature chain (event log: two 32-task
    # ~1 s stages), but the duplicates back-fill idle cores while an
    # eager `materialize_now` fill serializes the critical path —
    # measured slower (warm median 0.81 → 1.09 s); see
    # OPTIMIZATION_r12.md "eager-fill A/B" for the full ledger
    sh = materialize(feats.select(
        "id", simhash_signature_udf()(F.col("__hashes")).alias("simhash")))
    blocks = sh.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * i)
             .bitwiseAND(F.lit(0xFFFF)) for i in range(4)
        ])).alias("block", "block_val"),
    )
    a = blocks.toDF("id_a", "sim_a", "block", "block_val")
    b = blocks.toDF("id_b", "sim_b", "block", "block_val")
    return (
        a.join(b, ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
                 .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )

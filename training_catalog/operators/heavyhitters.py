"""Heavy hitters — corpus term-frequency analysis, exact and sketched.

The vocabulary step of a tokenizer/corpus-profiling pipeline:

- ``top_terms``: exact top-k by (count desc, term asc) — two shuffles
  (term partial+final count, then a k-row global sort via window-free
  orderBy+limit, which Spark executes as TakeOrderedAndProject: each
  partition contributes its local top-k, the driver merges k·P rows —
  no full sort materializes).
- ``space_saving_topk``: the Metwally/Agrawal/El Abbadi Space-Saving
  summary, run as one Arrow-batched pass per partition + a driver merge
  of P bounded summaries (classic mergeable-sketch shape: memory is
  O(capacity) per partition regardless of corpus size, and the merged
  estimate obeys true_count ≤ estimate ≤ true_count + merged_error).
  At 100 TB this replaces the exact path when the vocabulary itself is
  too large to shuffle; the error bound ships with every row so
  downstream cutoffs can be made sound.

No reference counterpart (GIS ETL); extends the training-data family
(SURVEY.md §2 extension set) beside the HLL/t-digest sketches.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def term_counts(df: DataFrame, text_col: str, pattern: str) -> DataFrame:
    """(term, n) exact counts via regexp tokenization (JVM-side)."""
    return (df.select(F.explode(F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(pattern), 0)).alias("term"))
            .groupBy("term").agg(F.count("*").alias("n")))


def top_terms(df: DataFrame, text_col: str, k: int,
              pattern: str = "[a-z]+") -> DataFrame:
    """Exact top-k terms: (term, n), ordered by (n desc, term asc)."""
    return (term_counts(df, text_col, pattern)
            .orderBy(F.desc("n"), F.asc("term")).limit(k))


def _space_saving(stream, capacity: int) -> dict[str, tuple[int, int]]:
    """One Space-Saving pass: term → (estimate, error)."""
    counters: dict[str, list[int]] = {}
    for t in stream:
        if t in counters:
            counters[t][0] += 1
        elif len(counters) < capacity:
            counters[t] = [1, 0]
        else:
            victim = min(counters.items(), key=lambda kv: (kv[1][0], kv[0]))
            vkey, (vcount, _) = victim
            del counters[vkey]
            counters[t] = [vcount + 1, vcount]
    return {t: (c, e) for t, (c, e) in counters.items()}


def space_saving_topk(df: DataFrame, text_col: str, k: int,
                      capacity: int = 256,
                      pattern: str = "[a-z]+") -> DataFrame:
    """Approximate top-k terms with per-row error bounds:
    (term, estimate, error) — ``estimate - error ≤ true ≤ estimate``.

    One bounded-memory Space-Saving summary per partition (mapInPandas —
    each call sees exactly one partition), merged on the driver with the
    standard summary-merge rule: shared terms sum their estimates and
    errors; a term absent from a partition's summary could have counted
    at most that summary's min-counter there, which is added to both the
    estimate and the error.  The merge input is P·capacity rows —
    driver-bounded by construction, independent of corpus size."""
    toks = (df.select(F.explode(F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(pattern), 0)).alias("term"))
            .withColumn("__pid", F.spark_partition_id()))

    def summarize(parts: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid_seen: list[int] = []

        def stream():
            for pdf in parts:  # lazy — one Arrow batch in memory at a time
                if len(pdf) and not pid_seen:
                    pid_seen.append(int(pdf["__pid"].iloc[0]))
                yield from pdf["term"]

        counters = _space_saving(stream(), capacity)
        pid = pid_seen[0] if pid_seen else None
        if counters:
            # min-counter = how much an unseen term could have counted here
            floor = min(c for c, _ in counters.values()) \
                if len(counters) >= capacity else 0
            yield pd.DataFrame(
                {"pid": pid, "term": list(counters),
                 "est": [c for c, _ in counters.values()],
                 "err": [e for _, e in counters.values()],
                 "floor": floor})

    rows = toks.mapInPandas(
        summarize,
        "pid int, term string, est long, err long, floor long").collect()

    summaries: dict[int, dict[str, tuple[int, int]]] = {}
    floors: dict[int, int] = {}
    for r in rows:
        summaries.setdefault(r.pid, {})[r.term] = (r.est, r.err)
        floors[r.pid] = r.floor

    merged: dict[str, tuple[int, int]] = {}
    all_terms = {t for s in summaries.values() for t in s}
    for t in sorted(all_terms):
        est = err = 0
        for p, summ in summaries.items():
            if t in summ:
                e, r = summ[t]
                est += e
                err += r
            else:
                est += floors[p]
                err += floors[p]
        merged[t] = (est, err)

    top = sorted(merged.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(t, int(e), int(r)) for t, (e, r) in top],
        "term string, estimate long, error long")
